"""The benchmark's workloads: inputs, one pass, and the oracle gate.

A pass is one complete job from the registered inputs to its result.  Every
Spark action of a pass goes through ``Ctx.action``, which in a traced pass
times Catalyst planning and execution as separate spans.
"""

from __future__ import annotations

import contextlib
import os
import re
from dataclasses import dataclass

#: sf0.02: orders 30,000 rows, events 20,000, lineitem 120,000
FUSION_SF = 0.02
#: sf0.01: customer 1,500, supplier 100, orders 15,000, lineitem 60,000,
#: documents 500
MIX_SF = 0.01

#: oracle-backed registry queries of query_mix, run in this order
MIX_QUERIES = (
    "q5_star_join_revenue",  # six table reads: catalog and planning
    "x5_stream_curation_replay",  # the streaming path
    "x1_cdc_chunks",  # an Arrow mapInPandas kernel: Python workers
)

INGEST_TABLES = ("orders", "events", "lineitem")


@dataclass(frozen=True)
class Workload:
    sf: float
    tables: tuple[str, ...]
    #: tables written as one file (x5_stream_curation_replay copies
    #: ``documents.parquet`` as a file into its stream source directory)
    single_file: frozenset[str] = frozenset()


WORKLOADS = {
    "fusion_etl": Workload(FUSION_SF, INGEST_TABLES),
    "query_mix": Workload(
        MIX_SF,
        ("region", "nation", "customer", "supplier", "orders", "lineitem", "documents"),
        frozenset({"documents"}),
    ),
}


class Ctx:
    """What a pass needs: the session, the inputs and, when traced, the
    tracer."""

    def __init__(self, spark, inputs: str, out: str, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.out = out
        self.tracer = None
        self._tracer = tracer
        self.plan_stats: list[tuple[int, int]] = []

    def traced(self, on: bool) -> None:
        self.tracer = self._tracer if on else None

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def action(self, df, run) -> None:
        if self.tracer:
            with self.span("catalyst.plan"):
                plan = df._jdf.queryExecution().executedPlan().toString()
            self.plan_stats.append((
                len(re.findall(r"(?<!Reused)Exchange\b", plan)),
                len(re.findall(r"Scan\b", plan)),
            ))
            with self.span("executor.exec"):
                run()
        else:
            run()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# fusion_etl: the paper's job — ingest copy, valid cohort, fusion table
# ---------------------------------------------------------------------------


def _collisions(orders):
    """The COLLISIONS stand-in of registry.fusion_etl_collisions."""
    from pyspark.sql import functions as F

    return orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("case_nbr"),
        F.when(F.col("o_orderstatus") == "P", F.lit(None))
        .otherwise(F.col("o_orderdate"))
        .alias("occurence_timestamp"),
        F.col("o_orderdate").alias("reported_timestamp"),
        F.col("o_orderstatus").alias("fatal_comment"),
    )


def fusion_pass(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from etl_for_ecol_fusion_database_spark import catalog, registry
    from etl_for_ecol_fusion_database_spark.plans import fusion_etl
    from etl_for_ecol_fusion_database_spark.plans import valid_collisions as vc
    from etl_for_ecol_fusion_database_spark.sources.writers import ParquetSink

    spark = ctx.spark
    landed = os.path.join(ctx.out, "landed")
    sink = ParquetSink(landed)
    for t in INGEST_TABLES:
        df = catalog.load_table(spark, ctx.inputs, t).withColumn(
            "source", F.lit(fusion_etl.SOURCE_ORACLE)
        )
        ctx.action(df, lambda df=df, t=t: sink.overwrite(df, f"{t}.parquet"))
    with ctx.span("plans.cohort"):
        cohort = vc.flagship(spark, landed)
        ctx.action(cohort, lambda: sink.overwrite(cohort, "valid_cohort.parquet"))
    with ctx.span("plans.transform"):
        collisions = _collisions(catalog.load_table(spark, landed, "orders"))
        ids = catalog.load_table(spark, landed, "valid_cohort").select("collision_id")
        fused = fusion_etl.fusion_collisions_transform(
            collisions, ids, registry._FUSION_TARGET_COLUMNS
        )
        ctx.action(
            fused,
            lambda: fusion_etl.write_fusion_table(fused, os.path.join(landed, "fusion_collisions")),
        )


def _landed(ctx: Ctx) -> tuple[dict[str, int], int, int]:
    """Rows per table, bytes and files the pass wrote through
    ``ParquetSink``, read from the parquet footers."""
    import pyarrow.parquet as pq

    rows = {}
    n_bytes = n_files = 0
    for t in (*INGEST_TABLES, "valid_cohort"):
        d = os.path.join(ctx.out, "landed", f"{t}.parquet")
        parts = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
        rows[t] = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        n_bytes += sum(os.path.getsize(f) for f in parts)
        n_files += len(parts)
    return rows, n_bytes, n_files


def fusion_gate(ctx: Ctx, duck, canon) -> list[tuple[str, str | None]]:
    """Check the last pass's landed tables; returns (check, problem or None)."""
    from etl_for_ecol_fusion_database_spark import registry

    rows, _, _ = _landed(ctx)
    checks = []
    for t in INGEST_TABLES:
        want = duck.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        checks.append((f"ingest:{t}", None if rows[t] == want else f"{rows[t]} rows, want {want}"))
    for check, path, oracle in (
        ("cohort", "valid_cohort.parquet", "flagship_valid_cohort"),
        ("fusion_table", "fusion_collisions", "fusion_etl_collisions"),
    ):
        sdf = ctx.spark.read.parquet(os.path.join(ctx.out, "landed", path))
        checks.append((check, canon(sdf, duck, registry.ORACLES[oracle])))
    return checks


def fusion_landed(ctx: Ctx) -> dict:
    rows, n_bytes, n_files = _landed(ctx)
    return {
        "sources.rows_written": sum(rows.values()),
        "sources.bytes_written": n_bytes,
        "sources.files_written": n_files,
        "plans.cohort_rows": rows["valid_cohort"],
    }


def no_landed(ctx: Ctx) -> dict:
    return dict.fromkeys(
        ("sources.rows_written", "sources.bytes_written", "sources.files_written",
         "plans.cohort_rows"),
        0,
    )


# ---------------------------------------------------------------------------
# query_mix: registry queries, each built, planned and run to the noop sink
# ---------------------------------------------------------------------------


def mix_pass(ctx: Ctx) -> None:
    from etl_for_ecol_fusion_database_spark import registry

    for name in MIX_QUERIES:
        with ctx.span("registry.build", query=name):
            df = registry.QUERIES[name](ctx.spark, ctx.inputs)
        ctx.action(df, lambda df=df: _noop(df))


def mix_gate(ctx: Ctx, duck, canon) -> list[tuple[str, str | None]]:
    from etl_for_ecol_fusion_database_spark import registry

    return [
        (name, canon(registry.QUERIES[name](ctx.spark, ctx.inputs), duck, registry.ORACLES[name]))
        for name in MIX_QUERIES
    ]


PASSES = {"fusion_etl": fusion_pass, "query_mix": mix_pass}
GATES = {"fusion_etl": fusion_gate, "query_mix": mix_gate}
LANDED = {"fusion_etl": fusion_landed, "query_mix": no_landed}
