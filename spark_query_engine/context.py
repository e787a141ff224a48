"""ExecutionContext — the engine entry point.

Mirrors the reference's ``ExecutionContext`` (reference:
src/execution/mod.rs:13-47): source registration returns a lazy
``Dataframe``; execution (collect) runs the full
optimize → physical-plan → execute pipeline, which in Spark is the
analyzer → Catalyst → codegen → task execution path
(SURVEY.md §3.3 maps the stages one-to-one).

Beyond the reference's single CSV source (src/datasources/mod.rs:25-71)
and in-memory source (src/datasources/mod.rs:250-313), this context
reads parquet / json / orc and registers SQL views — the reference has
no SQL parser; Spark SQL provides one natively.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Row, SparkSession

from spark_query_engine import catalog
from spark_query_engine.dataframe import Dataframe
from spark_query_engine.session import get_session


class ExecutionContext:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_session()

    # --- sources ---

    def csv(
        self,
        path: str,
        header: bool = True,
        infer_schema: bool = False,
        schema=None,
    ) -> Dataframe:
        """CSV source. Defaults mirror the reference's CsvDataSource:
        header-driven, all-string schema (reference:
        src/datasources/mod.rs:52-71 — infer_schema off yields all
        StringType, matching :62-66). Pass ``infer_schema=True`` or an
        explicit ``schema`` for typed reads (the reference can only
        type columns via CastExpr)."""
        reader = self.spark.read.option("header", str(header).lower())
        if schema is not None:
            reader = reader.schema(schema)
        elif infer_schema:
            reader = reader.option("inferSchema", "true")
        return Dataframe(reader.csv(path))

    def parquet(self, path: str) -> Dataframe:
        """Parquet source (absent in the reference, SURVEY.md §2.1 ABSENT
        row; the standard columnar source here — projection + predicate
        pushdown and partition pruning are native). The schema comes
        from the schema catalog (``catalog.read_parquet``), so only the
        first read of a file version runs Spark's inference job; a
        rewritten file is inferred afresh."""
        return Dataframe(catalog.read_parquet(self.spark, path))

    def json(self, path: str, schema=None) -> Dataframe:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return Dataframe(reader.json(path))

    def orc(self, path: str) -> Dataframe:
        """ORC source — same columnar pushdown story as parquet
        (projection/predicate pushdown are native in Spark's ORC
        reader)."""
        return Dataframe(self.spark.read.orc(path))

    def text(self, path: str) -> Dataframe:
        """Line-oriented text source — one ``value: string`` row per
        line, the raw-ingest entry for logs and unstructured dumps
        before any schema exists (the step BEFORE csv/json in a
        landing zone). Splittable like any file source; pair with
        ``F.split``/``from_json`` downstream to lift structure."""
        return Dataframe(self.spark.read.text(path))

    def memory(self, data: Iterable, schema=None) -> Dataframe:
        """In-memory table (reference: InMemoryDataSource,
        src/datasources/mod.rs:250-313 — there a fixed schema +
        Vec<RecordBatch>; here ``createDataFrame`` → LocalTableScan)."""
        if data and isinstance(next(iter(data)), dict):
            data = [Row(**r) for r in data]
        return Dataframe(self.spark.createDataFrame(data, schema=schema))

    def table(self, sf_dir: str, name: str) -> Dataframe:
        """Load one of the standard testdata tables from a scale dir."""
        return self.parquet(f"{sf_dir}/{name}.parquet")

    # --- SQL (no parser in the reference; Spark SQL natively) ---

    def sql(self, query: str) -> Dataframe:
        return Dataframe(self.spark.sql(query))

    def register(self, name: str, df: Dataframe) -> None:
        df.to_spark().createOrReplaceTempView(name)

    # --- execution (reference: src/execution/mod.rs:38-46) ---

    def execute(self, df: Dataframe):
        """Run the plan and return rows. The reference returns a
        batch iterator; ``toLocalIterator`` is the closest Spark
        equivalent without materializing everything on the driver."""
        return df.to_spark().toLocalIterator()
