"""Training-data curation pipeline: the full composition this engine exists
for. One spark-submit turns a raw pages table (parquet or WARC) into a
deduplicated, quality-filtered text corpus with an audit trail.

    pages ──url dedup──> drop re-crawls/tracking-param variants BEFORE
                         paying extraction cost (canonical_url collapse)
          ──extract──> text ──validate──> structural pass
          ──robots/canonical──> drop noindex docs; defer to the page's own
                         rel=canonical target when that doc is present
          ──boilerplate strip──> excise lines repeated across >=4 docs of
                         one host (corpus-level CCNet-style pass; text only,
                         markdown keeps the faithful per-page rendering)
          ──quality──> score >= threshold
          ──exact dedup──> drop content copies (keep smallest url; content
                         hash recomputed on the STRIPPED text, so docs that
                         differed only in template lines collapse)
          ──minhash near-dup──> drop jaccard>=0.8 duplicates (keep one per pair-cluster);
                         the increment is shingled, signed and banded ONCE
                         and the in-batch pairs, the history probe and the
                         written artifacts all read that one pass
          ──history dedup (re-crawl mode, --history)──> drop exact copies of
                         a previously-curated corpus via its persisted
                         content_md5 column and near-dups via its persisted
                         minhash artifacts (band probe + shingle verify);
                         the published text is never re-read
          ──> curated parquet + dedup artifacts + report JSON

The report's funnel counts are not counted step by step: each stage's
frame carries a pyspark Observation, filled while the job's own actions
(the near-dup checkpoint, the curated write) run over it, and the report
is read from them after the write. Each frame is computed by the actions
that need its rows, never again for a number.

Usage:
    spark-submit jobs/curate.py --input pages_dir [--warc] --output out_dir
        [--min-quality 60] [--cores N] [--history prior_out_dir]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="docvision-spark curation pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--warc", action="store_true", help="input is WARC files")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=int, default=60)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--history", default=None, metavar="DIR",
                    help="previously-curated output dir: re-crawl mode. "
                         "The increment is additionally deduped against "
                         "that corpus's persisted content_md5 column "
                         "(exact) and minhash artifacts (near-dup) — the "
                         "published text is never re-read or re-shingled.")
    ap.add_argument("--no-artifacts", action="store_true",
                    help="skip writing the minhash artifacts next runs' "
                         "--history consumes")
    ap.add_argument("--robots", default=None, metavar="PARQUET",
                    help="parquet of (host string, robots_txt string): "
                         "gate urls through each host's robots.txt "
                         "(RFC 9309, functions/robots.py) BEFORE paying "
                         "extraction cost; disallowed urls drop like url "
                         "dups. Hosts absent from the table are allowed.")
    ap.add_argument("--robots-agent", default="docvision-bot",
                    help="user-agent token for --robots group selection")
    ap.add_argument("--lm-max-millibits", type=int, default=None,
                    metavar="MB",
                    help="CCNet-style LM quality gate: drop docs whose "
                         "corpus-trained bigram-LM score exceeds MB "
                         "millibits/token (integer negative log2 "
                         "likelihood; ~10000 = 10 bits/token). Off by "
                         "default.")
    ap.add_argument("--lm-top-k", type=int, default=50000,
                    help="LM size: top-k bigram/context counts kept")
    args = ap.parse_args()
    if args.history:
        # checked before any work: a bad --history must not cost a whole
        # extraction and funnel before it fails
        for sub in ("data", "artifacts"):
            if not os.path.isdir(os.path.join(args.history, sub)):
                raise SystemExit(
                    f"--history {args.history} has no {sub}/ dir"
                    + (" (was it curated with --no-artifacts?)"
                       if sub == "artifacts" else ""))

    from py4j.protocol import Py4JJavaError
    from pyspark.sql import DataFrame, Observation
    from pyspark.sql import functions as F

    from docvision_spark.functions.dedup import (keep_first,
                                                 minhash_artifacts,
                                                 minhash_lsh_pairs)
    from docvision_spark.functions.text import with_quality
    from docvision_spark.pipeline.extract_job import extract_pages, read_pages
    from docvision_spark.pipeline.session import get_spark
    from docvision_spark.pipeline.validate import validation_flags
    from docvision_spark.pipeline.warc import read_warc

    spark = get_spark(app_name="docvision-curate", cores=args.cores)
    funnel: list[tuple[Observation, DataFrame, dict]] = []

    def observe(df: DataFrame, **metrics) -> DataFrame:
        """`df` with report metrics attached: they are collected while a
        later action runs over it, at no action of their own."""
        obs = Observation(next(iter(metrics)))
        funnel.append((obs, df, metrics))
        return df.observe(obs, *[m.alias(k) for k, m in metrics.items()])

    rows = F.count(F.lit(1))

    pages = (read_warc(spark, args.input).select("url", "html", "lang")
             if args.warc else read_pages(spark, args.input))

    # 0. url-level dedup BEFORE extraction: the same resource under a
    #    tracking-param / scheme-case / trailing-slash variant must not pay
    #    kernel cost twice (keep-lowest-url per canonical form)
    from docvision_spark.functions.urls import url_dedup

    pages = observe(pages, input_pages=rows)
    pages = observe(url_dedup(pages).drop("canonical_url"),
                    after_url_dedup=rows)

    # 0b. robots.txt gate BEFORE extraction (opt-in): machine-readable
    #     crawl permissions are a url-level predicate, so they belong with
    #     url dedup — ahead of every per-byte cost. The rule table is
    #     per-host configuration and broadcasts; no shuffle of the pages.
    if args.robots:
        from docvision_spark.functions.robots import (crawl_allowed,
                                                      robots_rules_df)

        robots_rows = [(r["host"], r["robots_txt"])
                       for r in spark.read.parquet(args.robots).collect()]
        rules = robots_rules_df(spark, robots_rows, agent=args.robots_agent)
        pages = observe(crawl_allowed(pages, rules)
                        .filter(F.col("allowed")).drop("allowed"),
                        after_robots_txt=rows)

    # 1. extract (read once: it feeds only the validation below)
    out = observe(extract_pages(pages), extracted=rows,
                  extract_errors=F.count_if(F.col("error").isNotNull()))

    # 2. structural validation
    valid = validation_flags(out).filter(F.col("valid") & F.col("error").isNull())

    # 2b. publisher metadata policy: robots-noindex pages are excluded
    #     outright; a page whose rel=canonical resolves to a DIFFERENT url
    #     defers to that doc when it exists in the corpus (the site's own
    #     dup signal — cheaper and more authoritative than content dedup).
    #     hrefs are resolved against the page url first (relative
    #     canonicals are the common real-world form), and a page only
    #     defers to a target that is NOT itself a canonical-variant: a
    #     mutual pair (A->B, B->A — the classic www/non-www misconfig) or
    #     a chain must never drop BOTH sides; content dedup still collapses
    #     whatever survives.
    from docvision_spark.functions.urls import resolve_href

    # cached: read on three plan branches (variant tags, their targets,
    # the anti-join below)
    valid = observe(valid.filter(
        ~F.coalesce(F.col("robots"), F.lit("")).contains("noindex")),
        after_robots=rows).cache()
    canon_abs = resolve_href(F.col("url"), F.col("canonical_url"))
    tagged = valid.withColumn("_canon_abs", canon_abs)
    is_variant = (F.col("_canon_abs").isNotNull()
                  & (F.col("_canon_abs") != F.col("url")))
    nonvariant_targets = tagged.filter(~F.coalesce(is_variant, F.lit(False))) \
                               .select(F.col("url").alias("_canon_abs"))
    deferred = (tagged.filter(is_variant)
                      .join(nonvariant_targets, "_canon_abs", "left_semi")
                      .select("url"))
    valid = observe(valid.join(deferred, "url", "left_anti"),
                    after_canonical=rows).cache()

    # 2c. host-frequency residual boilerplate: lines repeated verbatim in
    #     >= 4 distinct docs of one host are template text whatever their
    #     density (newsletter pitches, disclaimers) — excised corpus-wide
    #     (CCNet-style). Cached above: the strip reads the frame on three
    #     plan branches (the line census, the matched-line collection and
    #     the url join-back; Spark reuses no exchange above a cached
    #     relation, so the census's explode runs twice).
    from docvision_spark.functions.boilerplate import strip_frequent_lines

    valid = strip_frequent_lines(valid, text_col="text", min_docs=4)
    valid = valid.filter(F.length(F.trim("text")) > 0)

    # 3. quality floor (scored on the stripped text). Cached: two jobs run
    #    step 4 over it, step 5's shingling checkpoint and the curated
    #    write (or, with the LM gate, the LM's training and scoring
    #    passes). The boiler metric belongs to the QUALITY-PASSED set —
    #    observed before the optional LM gate reassigns `kept`, so its
    #    meaning does not depend on an unrelated flag; coalesce: the sum
    #    over no rows is null.
    scored = with_quality(valid, "text")
    kept = observe(
        scored.filter(F.col("quality_score") >= args.min_quality)
              .select("url", "id", "text", "markdown", "page_count",
                      "lang", "quality_score", "n_stripped_lines"),
        quality_pass=rows,
        boiler_lines_stripped=F.coalesce(F.sum("n_stripped_lines"),
                                         F.lit(0))).cache()

    # 3b. LM quality gate (opt-in, CCNet-style): a bigram LM trained on
    #     the quality-passed corpus itself scores every doc in integer
    #     millibits/token; docs above the cutoff (out-of-distribution
    #     gibberish, boilerplate soup, wrong-language residue) drop.
    #     The model is top-k pruned -> broadcast; the url side pays one
    #     Arrow-batched lookup pass, no shuffle (functions/text.lm_score).
    if args.lm_max_millibits is not None:
        from docvision_spark.functions.text import (lm_score,
                                                    train_bigram_lm)

        lm = train_bigram_lm(kept, "text", top_k=args.lm_top_k)
        # cached: step 5's shingling checkpoint and the curated write
        # both run step 4 over it
        kept = observe(lm_score(kept, lm, text_col="text")
                       .filter(F.col("mb_per_token") <= args.lm_max_millibits)
                       .drop("n_tokens", "total_millibits", "mb_per_token"),
                       after_lm_quality=rows).cache()

    # 4. exact dedup: keep the lexicographically smallest url per content
    #    hash, recomputed on the STRIPPED text (the doc id stays the sha3 of
    #    the original extraction — lineage — but docs that differed only in
    #    now-removed template lines must collapse here). In re-crawl mode
    #    the same pass drops copies of the published corpus: an anti-join
    #    on its persisted content_md5 column (column-pruned, no history
    #    text read) that reads the dedup window's exchange. content_md5
    #    leads so the curated table keeps its column order.
    h_md5 = (spark.read.parquet(os.path.join(args.history, "data"))
             .select("content_md5") if args.history else None)
    kept = kept.select(F.md5(F.col("text")).alias("content_md5"), "*")
    exact = observe(keep_first(kept, F.col("content_md5"),
                               [F.col("url").asc_nulls_last()],
                               published=h_md5),
                    after_exact_dedup=rows)

    # 5. near-dup drop: keep-lowest-url policy. `exact` is shingled,
    #    signed and banded here ONCE; steps 5b and 6 restrict these two
    #    frames by url instead of re-shingling. The pair id is the url
    #    itself (minhash_lsh_pairs only needs an orderable, groupable id),
    #    so id_a < id_b IS lexicographic url order and dropping every id_b
    #    keeps the lowest url of each pair. Chained groups (a~b, b~c) drop
    #    both b and c — greedy transitive drop under the lowest surviving
    #    representative, the standard near-dedup policy.
    sh, bands = minhash_artifacts(exact, id_col="url", text_col="text")
    pairs = minhash_lsh_pairs(sh, bands, jaccard_threshold=args.jaccard)
    losers = pairs.select(F.col("id_b").alias("url")).distinct()
    curated = observe(exact.join(losers, "url", "left_anti"),
                      after_near_dedup=rows)

    # 5b. re-crawl mode: near-dup drop against the published corpus's
    #     persisted minhash artifacts (band probe + exact verify against
    #     its shingle table) — history docs are never re-shingled, and
    #     history-internal pairs are never rediscovered. The probe side is
    #     step 5's frames minus the in-batch losers (the url anti-join
    #     that made `curated`).
    if args.history:
        from docvision_spark.functions.dedup import incremental_minhash_pairs

        art = os.path.join(args.history, "artifacts")
        in_batch_losers = losers.select(F.col("url").alias("id"))
        pairs_h = incremental_minhash_pairs(
            sh.join(in_batch_losers, "id", "left_anti"),
            bands.join(in_batch_losers, "id", "left_anti"),
            spark.read.parquet(os.path.join(art, "shingles")),
            spark.read.parquet(os.path.join(art, "bands")),
            jaccard_threshold=args.jaccard)
        h_losers = pairs_h.select(F.col("new_id").alias("url")).distinct()
        curated = observe(curated.join(h_losers, "url", "left_anti"),
                          after_history_neardup=rows)

    data = os.path.join(args.output, "data")
    curated.write.mode("overwrite").parquet(data)
    if not args.no_artifacts:
        # 6. persist the dedup artifacts the NEXT curate run's --history
        #    consumes: (url, sh) exact-verification sets + (url, band, bkey)
        #    LSH keys, step 5's frames semi-joined to the urls just written
        #    (a url-only scan of data/: the near-dup lineage is not re-run)
        written = spark.read.parquet(data).select(F.col("url").alias("id"))
        art = os.path.join(args.output, "artifacts")
        sh.join(written, "id", "left_semi").write.mode("overwrite") \
          .parquet(os.path.join(art, "shingles"))
        bands.join(written, "id", "left_semi").write.mode("overwrite") \
             .parquet(os.path.join(art, "bands"))
    # every observed frame is in the lineage of the write, so each
    # Observation is filled by now, by the first action that ran it. One
    # comes back empty only when AQE pruned it from that action's plan (a
    # join input downstream of it was empty at run time); only then is
    # that frame counted on its own.
    report: dict = {}
    for obs, df, metrics in funnel:
        try:
            row = obs.get
        except Py4JJavaError:
            row = df.agg(*[m.alias(k) for k, m in metrics.items()]) \
                    .first().asDict()
        report.update({k: int(row[k]) for k in metrics})
    with open(os.path.join(args.output, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
