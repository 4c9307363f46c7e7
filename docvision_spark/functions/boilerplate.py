"""Host-frequency residual-boilerplate detection (CCNet/trafilatura-style).

The kernel's density classifier (kernel/classify.py) strips low-density
nav/footer chrome per page. What it CANNOT catch is template text that
looks like content — a newsletter pitch, a legal disclaimer, a promo
paragraph — repeated verbatim inside <main> across many pages of one host.
The classic web-curation answer (CCNet's paragraph-frequency pass) is
corpus-level: a line that appears in >= k distinct documents of the same
host is boilerplate, whatever its density.

Scale shape (100 TB): one explode over lines, one dropDuplicates shuffle on
(host, line, url), one partial-aggregated count per (host, line) — all keys
are host-prefixed so the hot-host skew fixture spreads over (host, line)
buckets, far finer than host alone. The strip semi-joins those deduplicated
lines to the small frequent-line set, collects only the matched lines per
url and joins them back by url; each document's own line array is filtered
in the row, never exploded and regrouped. Over an uncached input AQE runs
the census's explode + dedup exchange once for both uses, so the input is
read on two plan branches; above a cached relation Spark reuses no
exchange, and it is read on three. No driver-side collection anywhere.

Reference parity note: the reference has no corpus-level operator at all
(per-document VLM calls, src/docvision/core/parser.py); this is part of the
training-data-pipeline surface the graft adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the one Spark-side host regex; the DuckDB oracles spell the SAME pattern
# (Java regex and RE2 agree on every construct it uses)
HOST_RE = r"^[a-z]+://([^/:?#]+)"


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add a `host` column via the same regex the DuckDB oracles use
    (parse_url and a regex can disagree on edge cases; the regex is the
    single shared definition)."""
    return df.withColumn("host", F.regexp_extract(F.col(url_col), HOST_RE, 1))


# Shorter lines are skipped: connective fragments that repeat by chance.
_MIN_CHARS = 12


def _doc_lines(df: DataFrame, url_col: str, text_col: str) -> DataFrame:
    """(host, url, line) with one row per DISTINCT line of at least
    _MIN_CHARS chars per document — a line repeated inside one doc still
    counts that doc once. A null-url row is no document of any host and
    gives no lines (the explicit filter also makes the strip's two uses of
    this frame plan the same exchange, so AQE can reuse it)."""
    return (
        with_host(df.filter(F.col(url_col).isNotNull()), url_col)
        .select("host", F.col(url_col).alias("url"),
                F.explode(F.split(F.col(text_col), "\n")).alias("line"))
        .filter(F.length(F.trim("line")) >= _MIN_CHARS)
        .dropDuplicates(["host", "url", "line"])
    )


def host_frequent_lines(df: DataFrame, url_col: str = "url",
                        text_col: str = "text", min_docs: int = 4) -> DataFrame:
    """(host, line, n_docs): lines of >= _MIN_CHARS chars appearing in >=
    min_docs distinct docs of the same host; min_docs is the CCNet-style
    frequency knob."""
    return (
        _doc_lines(df, url_col, text_col)
        .groupBy("host", "line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_frequent_lines(df: DataFrame, url_col: str = "url",
                         text_col: str = "text", min_docs: int = 4) -> DataFrame:
    """Remove each host's frequent lines from every document of that host.

    Returns the input frame with `text_col` rewritten (line order
    preserved; removed lines excised) plus `n_stripped_lines`. Documents
    with no line surviving keep an empty string (callers' empty-content
    filter then drops them); null-url and null-text rows pass through
    untouched (silently clearing them would hide upstream corruption).

    Only the frequent lines move: each doc's lines that the census marks
    frequent are collected per url as `_hits`, joined back by url and
    filtered out of the row's own line array, so line order needs no
    positions or sort. Rows sharing a url share a host, so every entry of
    their merged `_hits` is frequent for each of them and each row still
    loses exactly its own frequent lines."""
    freq = host_frequent_lines(df, url_col, text_col, min_docs)
    hits = (
        _doc_lines(df, url_col, text_col)
        .join(freq.select("host", "line"), ["host", "line"], "left_semi")
        .groupBy("url")
        .agg(F.collect_list("line").alias("_hits"))
    )
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda ln: ~F.array_contains(F.col("_hits"), ln))
    hit = F.col("_hits").isNotNull()
    return (
        df.join(hits, on=df[url_col] == hits["url"], how="left")
          .drop(hits["url"])
          .withColumn("n_stripped_lines",
                      F.when(hit, (F.size(lines) - F.size(kept)).cast("long"))
                       .otherwise(F.lit(0)))
          .withColumn(text_col,
                      F.when(hit, F.array_join(kept, "\n"))
                       .otherwise(F.col(text_col)))
          .drop("_hits")
    )
