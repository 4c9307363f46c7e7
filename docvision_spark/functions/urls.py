"""URL canonicalization + host utilities — expression-only (JVM-side).

A web-scale crawl dedups at three levels: exact content (t05), near-dup
content (d01/d02), and URL identity — the same resource crawled as
`HTTP://Example.COM:80/a//b/?utm_source=x#frag` and `http://example.com/a/b`
must collapse BEFORE fetch/extract cost is paid. Canonicalization rules
(conservative subset of RFC 3986 normalization + standard tracking-param
strip):

  1. scheme + host lowercased
  2. default ports stripped (:80 http, :443 https)
  3. fragment stripped
  4. tracking query params dropped (utm_*, fbclid, gclid, ref); a query
     left empty by the strip loses its '?'
  5. duplicate slashes in the PATH collapsed; trailing path slash dropped
     (except root) — the query string is never touched by path rules
     (an embedded `?u=http://other//x` must survive verbatim)

The URL is split into (scheme://host, path, query) and each rule runs on
its own segment, in BOTH engines — `canonical_url_sql` builds the same
segment pipeline for DuckDB (RE2), with explicit 'g' flags wherever the
Spark side replaces globally. A URL that does not parse (no scheme://host)
passes through with only the fragment stripped — opaque, never mangled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docvision_spark.functions.dedup import keep_first

# tracked params dropped from query strings (lowercase-matched as-is; the
# query's case is preserved so only literally-lowercase params match — the
# conservative choice)
_TRACK = r"(?:utm_[a-z]+|fbclid|gclid|ref)"
# a run of tracked params followed by a kept param: '?utm_a=1&utm_b=2&x=1'
_TRACK_RUN_MID = rf"([?&])(?:{_TRACK}=[^&#]*&)+"
# a trailing run of tracked params: '...&utm_a=1&utm_b=2' / '?utm_a=1'
_TRACK_RUN_END = rf"[?&]{_TRACK}=[^&#]*(?:&{_TRACK}=[^&#]*)*$"
_HEAD = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)"


def canonical_url(col: Column) -> Column:
    """Apply the canonicalization chain. Pure expressions, no UDF."""
    u = F.regexp_replace(F.trim(col), r"#.*$", "")  # fragment off first
    head = F.regexp_extract(u, _HEAD, 1)
    tail = F.substring(u, F.length(head) + 1, F.lit(1 << 30))
    qpos = F.instr(tail, "?")
    path = F.when(qpos > 0, F.substring(tail, F.lit(1), qpos - 1)).otherwise(tail)
    query = F.when(qpos > 0, F.substring(tail, qpos, F.lit(1 << 30))).otherwise(F.lit(""))

    lhead = F.lower(head)
    lhead = F.regexp_replace(lhead, r"^(http://[^:/]+):80$", r"$1")
    lhead = F.regexp_replace(lhead, r"^(https://[^:/]+):443$", r"$1")

    path = F.regexp_replace(path, r"//+", "/")
    path = F.when(path != "/", F.regexp_replace(path, r"/$", "")).otherwise(path)

    query = F.regexp_replace(query, _TRACK_RUN_MID, r"$1")
    query = F.regexp_replace(query, _TRACK_RUN_END, "")
    query = F.regexp_replace(query, r"^\?$", "")

    # unparseable url (no scheme://host): pass through fragment-stripped
    return F.when(F.length(head) > 0,
                  F.concat(lhead, path, query)).otherwise(u)


def canonical_url_sql(col: str) -> str:
    """DuckDB twin of canonical_url — same segments, same rules, RE2
    syntax ('\\1' backrefs, explicit 'g' flags where Spark is global)."""
    u = f"regexp_replace(trim({col}), '#.*$', '')"
    head = f"regexp_extract({u}, '{_HEAD}', 1)"
    tail = f"substring({u}, length({head}) + 1)"
    qpos = f"strpos({tail}, '?')"
    path = f"(case when {qpos} > 0 then substring({tail}, 1, {qpos} - 1) else {tail} end)"
    query = f"(case when {qpos} > 0 then substring({tail}, {qpos}) else '' end)"

    lhead = f"lower({head})"
    lhead = f"regexp_replace({lhead}, '^(http://[^:/]+):80$', '\\1')"
    lhead = f"regexp_replace({lhead}, '^(https://[^:/]+):443$', '\\1')"

    path = f"regexp_replace({path}, '//+', '/', 'g')"
    path = f"(case when {path} <> '/' then regexp_replace({path}, '/$', '') else {path} end)"

    query = f"regexp_replace({query}, '{_TRACK_RUN_MID}', '\\1', 'g')"
    query = f"regexp_replace({query}, '{_TRACK_RUN_END}', '')"
    query = f"regexp_replace({query}, '^\\?$', '')"

    return (f"(case when length({head}) > 0 "
            f"then {lhead} || {path} || {query} else {u} end)")


def with_canonical_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("canonical_url", canonical_url(F.col(url_col)))


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Keep one row per canonical url, lowest original url winning
    (deterministic, monotone policy; same shape as exact_dedup).

    Same-url re-crawls (same url, different html/warc_ts) are collapsed by
    a DEFINED survivor policy, not dropDuplicates' partition-order pick:
    newest warc_ts wins when the column exists; remaining ties are broken
    by every other column ascending (name order) — scalar columns compare
    natively, while BINARY and non-atomic (array/struct/map) columns
    compare via xxhash64 of their bytes/JSON so the window sort never runs
    a row comparator over a multi-MB html payload and the determinism
    guarantee holds even when re-crawls differ only in a nested column.
    Output row CONTENT is therefore stable across runs and partitionings
    (up to 2^-64 hash collisions between differing rows).

    One shuffle: dedup.keep_first per canonical url, ordered by url first,
    keeps the lowest url and, among its re-crawls, the policy survivor —
    so downstream stages (the kernel) get the partitions AQE sizes for
    this exchange, not a union with the scan's splits. Null-url rows pass
    through untouched with a null canonical_url: they cannot be deduped,
    and silently dropping them would hide upstream corruption. Output
    columns: canonical_url, the url column, then the input's other
    columns in input order."""
    from pyspark.sql import types as T

    rest = [c for c in df.columns if c not in (url_col, "canonical_url")]
    base = with_canonical_url(df, url_col)
    scalar, hashed = [], []
    for f in sorted(base.schema.fields, key=lambda f: f.name):
        if f.name in (url_col, "canonical_url"):
            continue
        if isinstance(f.dataType, T.BinaryType):
            hashed.append(F.xxhash64(F.col(f.name)))
        elif isinstance(f.dataType, (T.StringType, T.BooleanType,
                                     T.NumericType, T.TimestampType,
                                     T.DateType)):
            scalar.append(f.name)
        else:  # array/struct/map — not natively orderable here: hash JSON
            hashed.append(F.xxhash64(F.to_json(F.struct(F.col(f.name)))))
    order = [F.col(url_col).asc_nulls_last()]
    if "warc_ts" in scalar:
        order.append(F.col("warc_ts").desc_nulls_last())  # newest crawl wins
        scalar.remove("warc_ts")
    order += [F.col(c).asc_nulls_last() for c in scalar]
    order += [h.asc_nulls_last() for h in hashed]
    return (keep_first(base, F.col("canonical_url"), order)
            .select("canonical_url", url_col, *rest))


def resolve_href(base: Column, href: Column) -> Column:
    """Resolve an href against its page url (RFC 3986 §5 subset, the forms
    rel=canonical links actually take):

      - absolute  (`scheme://...`)  -> as-is
      - protocol-relative (`//h/p`) -> base's scheme + href
      - host-relative     (`/p`)    -> base's origin + href
      - document-relative (`p`)     -> base's directory + href

    Dot-segment normalization (`../`) is NOT applied — rel=canonical hrefs
    with dot segments are vanishingly rare and a wrong guess is worse than
    leaving the (then dangling) url unmatched. Null href -> null."""
    scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(base, _HEAD, 1)
    # directory of the base url: up to the last '/' AFTER the host; a url
    # with no path ('https://h') has no such slash -> origin + '/'
    basedir = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^?#]*/)", 1)
    basedir = F.when(basedir == "", F.concat(origin, F.lit("/"))) \
               .otherwise(basedir)
    return (
        F.when(href.isNull(), F.lit(None).cast("string"))
         .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
         .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
         .when(href.startswith("/"), F.concat(origin, href))
         .otherwise(F.concat(basedir, href))
    )
