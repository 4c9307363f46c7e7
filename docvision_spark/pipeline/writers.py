"""Output sinks with reference-format parity (SURVEY.md §2 K1-K3, A1).

K1 sink dispatch  (reference core/parser.py:486-510): extension -> writer.
K2 JSON writer    (core/parser.py:512-534): ParseResult envelopes
                  {id, content, metadata{...}} — here as distributed JSONL
                  (typed columns; we deliberately do NOT reproduce the
                  content-sniffing re-parse, Appendix B quirk).
K3 markdown writer (core/parser.py:536-546): pages joined with
                  '<!-- page N -->' headers and '\n\n---\n\n' separators.
A1 page assembly  (core/parser.py:308-322): gather per-page rows, order by
                  page number — collect_list + array_sort, order guaranteed
                  by the sort, not arrival (the reference re-sorts for the
                  same reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _document_md(pages: F.Column, page_col: str, text_col: str) -> F.Column:
    """Byte parity with the reference markdown writer (core/parser.py:536-546):
    each page is '<!-- page N -->' + ONE newline + content; pages separated
    by '\n\n---\n\n'."""
    return F.concat_ws(
        "\n\n---\n\n",
        F.transform(pages, lambda p: F.concat(
            F.lit("<!-- page "), p[page_col].cast("string"),
            F.lit(" -->\n"), p[text_col])),
    ).alias("document_md")


def assemble_pages(df: DataFrame, key: str = "url",
                   page_col: str = "page_no", text_col: str = "markdown") -> DataFrame:
    """A1: one row per document from separate page rows, pages ordered by
    page number."""
    return (
        df.groupBy(key)
          .agg(F.array_sort(F.collect_list(F.struct(page_col, text_col))).alias("pages"))
          .select(key, F.size("pages").alias("n_pages"),
                  _document_md(F.col("pages"), page_col, text_col))
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2: ParseResult-envelope JSONL, distributed (one part per task)."""
    envelope = df.select(
        F.to_json(
            F.struct(
                F.col("id"),
                F.col("text").alias("content"),
                F.struct(
                    F.col("url").alias("file_name"),
                    F.col("page_count").alias("total_pages"),
                    F.col("processing_mode").alias("parsing_mode"),
                    F.col("processing_time"),
                ).alias("metadata"),
            )
        ).alias("value")
    )
    envelope.write.mode(mode).text(path)


def write_markdown_parts(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3: one markdown 'file' per document as (url, n_pages, document_md)
    parquet — at 10^12 docs a file-per-document sink is an anti-pattern;
    consumers slice by bucket. df must have url + the nested `pages` column
    (real per-page rows in page order, as the kernel emits them; multi-page
    PDFs keep their 1-indexed page numbers). Each row's document is built
    from its own pages array, with no shuffle; a row without pages writes
    nothing."""
    (df.filter(F.size("pages") > 0)
       .select("url", F.size("pages").alias("n_pages"),
               _document_md(F.col("pages"), "page_no", "markdown"))
       .write.mode(mode).parquet(path))


def sink_dispatch(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """K1: extension-dispatched sink. '.jsonl'/'.json' -> JSONL text,
    '.md' -> assembled markdown parquet, else raw parquet. Returns the
    format used."""
    low = path.lower()
    if low.endswith((".json", ".jsonl")):
        write_jsonl(df, path, mode)
        return "jsonl"
    if low.endswith(".md"):
        write_markdown_parts(df, path, mode)
        return "markdown"
    df.write.mode(mode).parquet(path)
    return "parquet"


def transcription_extract(col: F.Column) -> F.Column:
    """P5 (reference utils/helper.py:5-21): pull <transcription>...</
    transcription> body, DOTALL; fall back to the trimmed original."""
    extracted = F.regexp_extract(col, r"(?s)<transcription>(.*?)</transcription>", 1)
    return F.when(F.length(extracted) > 0, F.trim(extracted)) \
            .otherwise(F.trim(col))
