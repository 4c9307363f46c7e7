"""Markdown + plain-text + span emission from classified blocks.

The markdown dialect implements the reference's VLM transcription prompt
spec (core/constants.py:1-46): at most 3 heading levels, pipe tables with a
consistent column count and padded cells, one-line placeholders for figures,
boilerplate dropped. Plain `text` is the span-addressed canonical output —
the byte-identical comparison target per url.
"""

from __future__ import annotations

from docvision_spark.kernel.classify import classify
from docvision_spark.kernel.dom import Block
from docvision_spark.kernel.pdf_text import PdfBlock

Span = tuple[int, str, int, int]  # (block_id, kind, start, end)


def _pipe_table(rows: list[list[str]]) -> str:
    """Render rows as a pipe table: consistent column count, padded cells,
    first row treated as header (prompt spec core/constants.py:19-27)."""
    ncols = max(len(r) for r in rows)
    norm = [[(r[i] if i < len(r) else "").replace("|", "\\|") for i in range(ncols)]
            for r in rows]
    widths = [max(3, max(len(row[i]) for row in norm)) for i in range(ncols)]

    def fmt(row: list[str]) -> str:
        return "| " + " | ".join(c.ljust(widths[i]) for i, c in enumerate(row)) + " |"

    lines = [fmt(norm[0]), "| " + " | ".join("-" * widths[i] for i in range(ncols)) + " |"]
    lines.extend(fmt(r) for r in norm[1:])
    return "\n".join(lines)


def render(blocks: list[Block] | list[PdfBlock]) -> tuple[str, str, list[Span]]:
    """Return (text, markdown, spans) for every block, in order.

    text  = the blocks' plain text joined by \n\n (pre blocks keep
            internal newlines); spans index into this string.
    spans = (block_id, kind, start, end); block_id is the index within the
            rendered sequence (dense, 0-based; an empty non-figure block is
            skipped and takes no id).

    HTML/feed blocks and PDF page blocks both render here; a PdfBlock is
    only ever a heading, paragraph or table, so it needs no `ordered`.
    """
    text_parts: list[str] = []
    md_parts: list[str] = []
    spans: list[Span] = []
    pos = 0
    bid = 0
    for b in blocks:
        t = b.text
        if not t and b.kind != "figure":
            continue
        if b.kind == "heading":
            md_parts.append("#" * b.level + " " + t)
            kind = "heading"
        elif b.kind == "list_item":
            md_parts.append(("1. " if b.ordered else "- ") + t)
            kind = "list_item"
        elif b.kind == "table":
            md_parts.append(_pipe_table(b.rows))
            kind = "table"
        elif b.kind == "figure":
            alt = t if t else "figure"
            md_parts.append(f"![{alt}]()" if t else "*[image]*")
            t = alt
            kind = "caption"
        elif b.kind == "pre":
            md_parts.append("```\n" + t + "\n```")
            kind = "paragraph"
        elif b.kind == "quote":
            md_parts.append("> " + t)
            kind = "paragraph"
        else:
            md_parts.append(t)
            kind = "paragraph"
        if pos:
            pos += 2  # the "\n\n" separator
        text_parts.append(t)
        spans.append((bid, kind, pos, pos + len(t)))
        pos += len(t)
        bid += 1
    return "\n\n".join(text_parts), "\n\n".join(md_parts), spans


def emit(blocks: list[Block]) -> tuple[str, str, list[Span]]:
    """render() over the blocks classify() keeps as content."""
    return render([b for b, k in zip(blocks, classify(blocks)) if k])
