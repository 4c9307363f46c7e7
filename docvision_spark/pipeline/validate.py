"""Output validation pass — the deterministic analogue of the reference's
agentic critic loop (workflows/graph.py:116-160: a VLM scores structural
completeness and routes bad pages back for refinement).

A deterministic kernel needs no self-correction; the *capability* maps to
cheap column checks over the extraction output, all expression-only:

  V1 non-empty text for error-free rows         (critic: "missing content")
  V2 span offsets within [0, len(text)]          (structural sanity)
  V3 spans non-overlapping and ordered           (reading-order invariant)
  V4 markdown pipe tables balanced               (critic: "broken table")
  V5 id = content hash length/charset            (envelope integrity)

Violations become rows in the metrics/failure stream, never task failures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docvision_spark.functions.dedup import let_


def validation_flags(out: DataFrame) -> DataFrame:
    """Attach boolean v1..v5 columns + an overall `valid` column."""
    ok = F.col("error").isNull()
    v1 = ~ok | (F.length(F.trim("text")) > 0)
    # length(text) is bound once: inside the lambda it would be recounted
    # for every span (higher-order functions get no subexpression reuse)
    v2 = ~ok | ~let_(F.length("text"), lambda n: F.exists(
        "spans", lambda s: (s["start"] < 0) | (s["end"] > n)
                           | (s["start"] > s["end"])))
    # ordered + non-overlapping: left fold carrying the previous span end;
    # any span starting before it poisons the accumulator to NULL
    fold = F.aggregate(
        "spans", F.lit(0),
        lambda acc, s: F.when(acc.isNull() | (s["start"] < acc),
                              F.lit(None).cast("int")).otherwise(s["end"]),
    )
    v3 = ~ok | fold.isNotNull()
    # balanced pipe tables: every markdown line starting with '|' must also
    # end with '|' (cheap structural proxy for consistent column counts)
    bad_table_line = F.exists(
        F.split("markdown", "\n"),
        lambda ln: ln.startswith("|") & ~F.rtrim(ln).endswith("|"),
    )
    v4 = ~ok | ~bad_table_line
    v5 = ~ok | (F.length("id") == 64) & F.col("id").rlike("^[0-9a-f]{64}$")
    return (
        out.withColumn("v1_nonempty", v1)
           .withColumn("v2_span_bounds", v2)
           .withColumn("v3_span_order", v3)
           .withColumn("v4_tables_balanced", v4)
           .withColumn("v5_id_wellformed", v5)
           .withColumn("valid", v1 & v2 & v3 & v4 & v5)
    )


def validation_report(out: DataFrame, flagged: bool = False) -> DataFrame:
    """Aggregate violation counts (feeds the metrics table / dashboards).
    Pass flagged=True when `out` already carries the v1..v5/valid columns
    (e.g. a materialized validation table) to skip recomputing them."""
    flagged = out if flagged else validation_flags(out)
    checks = ["v1_nonempty", "v2_span_bounds", "v3_span_order",
              "v4_tables_balanced", "v5_id_wellformed"]
    aggs = [F.sum(F.when(~F.col(c), 1).otherwise(0)).alias(f"fail_{c}")
            for c in checks]
    return flagged.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("n_valid"),
        *aggs,
    )
