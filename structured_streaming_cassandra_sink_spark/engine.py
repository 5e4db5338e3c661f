"""User-facing engine facade — the one-object entry point SURVEY.md §3.4
names as the target lifecycle (``engine.sql(str)`` / DataFrame builder →
stock Catalyst → batch or streaming execution).

A user of the reference repo drives a hand-assembled pipeline
(cassandra_sink.scala:96-129: session builder → Kafka relation →
transform chain → foreach sink). Switching to this engine, the same
user gets:

- ``Engine(sf_dir)`` — session + table catalog in one call (the
  reference's ``SparkSessionBuilder`` counterpart, minus the executor
  serialization trick per SURVEY §3.3);
- ``.sql("SELECT ...")`` — ad-hoc ANSI SQL over the registered tables,
  optimized by stock Catalyst (predicate pushdown / pruning / AQE come
  from the session factory's config, not from user code);
- ``.table(name)`` / ``.query(name)`` — the declared-schema readers and
  the full named-operator registry (every SURVEY §2 capability);
- ``.explain(name)`` — the formatted physical plan of a registered
  query, for plan review without executing;
- ``.stream_pipeline(...)`` re-exported from :mod:`.streaming` for the
  reference's streaming use case.

Deliberately thin: the engine owns NO execution logic. Everything below
is dispatch into the session factory, the schema'd readers, and the
query registry — one facade, zero new semantics, nothing for plans to
drift against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .plans import registry
from .session import get_spark
from .sources import load_table
from .sources.tables import DEFAULT_SF_DIR, register_views


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The plan of ``df`` as ``df.explain(mode)`` prints it, as a string."""
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


class Engine:
    """Session + catalog + operator registry behind one object."""

    def __init__(
        self,
        sf_dir: str = DEFAULT_SF_DIR,
        spark: SparkSession | None = None,
        app_name: str = "structured_streaming_cassandra_sink_spark",
    ) -> None:
        self.sf_dir = sf_dir
        self.spark = spark or get_spark(app_name=app_name)
        registry.load_all()
        register_views(self.spark, sf_dir)

    # ------------------------------------------------------------- query

    def sql(self, statement: str) -> DataFrame:
        """Ad-hoc SQL over the registered tables (lazy DataFrame back)."""
        return self.spark.sql(statement)

    def table(self, name: str) -> DataFrame:
        """A catalog table through the declared-schema reader."""
        return load_table(self.spark, name, self.sf_dir)

    def query(self, name: str) -> DataFrame:
        """Run a registered named operator (lazy DataFrame back)."""
        return registry.QUERIES[name](self.spark, self.sf_dir)

    def queries(self) -> list[str]:
        """Names of every registered operator."""
        return sorted(registry.QUERIES)

    def oracle(self, name: str) -> str | None:
        """The DuckDB oracle SQL for a named operator, if it has one."""
        return registry.ORACLES.get(name)

    # ------------------------------------------------------------- plans

    def explain(self, name: str, mode: str = "formatted") -> str:
        """Formatted physical plan of a registered query (not executed)."""
        return plan_string(self.query(name), mode)

    # -------------------------------------------------------- observability

    def query_with_metrics(
        self, name: str, metrics: dict[str, "object"] | None = None
    ):
        """Run a registered query with Spark's Observation API riding on
        the SAME job: returns ``(rows, metrics_dict)`` where the metrics
        are aggregate expressions evaluated during the action — row
        counts / null rates / value bounds for production QA without a
        second pass over the data (a separate ``df.count()`` would
        re-execute the whole plan).

        ``metrics`` maps metric name -> aggregate Column; default is the
        row count. Observation metrics are exact for batch queries
        regardless of task retries (Spark de-duplicates by task)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        metrics = metrics or {"n_rows": F.count(F.lit(1))}
        obs = Observation()
        df = self.query(name)
        observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
        rows = observed.collect()
        return rows, obs.get
