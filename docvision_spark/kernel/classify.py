"""Densitometric block classification: content vs boilerplate.

Boilerpipe/trafilatura-style rules over the per-block features computed by
dom.py. All thresholds are integer/rational comparisons (3*anchor >= chars,
not anchor/chars >= 0.333) so classification can never depend on platform
float behavior — byte-identity of the extracted text is the invariant.

Direct heir of the reference's largest-ink-block content crop
(processing/crop.py:42-77,123-173: keep the dense central block, drop
header/footer bands) and the VLM prompt's boilerplate rules
(core/constants.py:42-45: drop page numbers, repeated running headers,
watermarks).
"""

from __future__ import annotations

from docvision_spark.kernel.dom import Block

# Minimum collapsed chars for an unsigned block to stand on its own.
MIN_CHARS = 25
# Link-density cutoff: boilerplate when anchor_chars/chars >= 1/3.
LD_NUM, LD_DEN = 1, 3


def classify(blocks: list[Block]) -> list[bool]:
    """Return a parallel list: True = content, False = boilerplate.

    Rules (in order, first match wins), per block:
      1. negative ancestor signal            -> boilerplate
      2. link density >= 1/3                 -> boilerplate
      3. table: >=2 rows and >=2 cols        -> content (data table)
         other tables                        -> boilerplate (layout table)
      4. figure: content iff in non-neg context and either alt text or
         adjacent to content
      5. heading: provisional — kept iff a content block follows before the
         next heading of the same-or-higher level (second pass)
      6. chars >= MIN_CHARS or positive signal -> content
      7. short unsigned block: content iff previous block was content and
         it has zero anchor chars (continuation rule)
    """
    n = len(blocks)
    out = [False] * n
    prev_content = False
    for i, b in enumerate(blocks):
        if b.signal < 0:
            out[i] = False
        elif b.kind == "table":
            maxcols = max((len(r) for r in b.rows), default=0)
            out[i] = len(b.rows) >= 2 and maxcols >= 2
        elif b.chars > 0 and LD_DEN * b.anchor_chars >= LD_NUM * b.chars:
            out[i] = False
        elif b.kind == "figure":
            out[i] = bool(b.text) or prev_content
        elif b.kind == "heading":
            out[i] = True  # provisional; pruned in second pass
        elif b.chars >= MIN_CHARS or b.signal > 0:
            out[i] = True
        else:
            out[i] = prev_content and b.anchor_chars == 0
        if b.kind != "heading":
            prev_content = out[i]

    # Second pass: drop headings with no following content in their section.
    for i in range(n - 1, -1, -1):
        b = blocks[i]
        if b.kind != "heading" or not out[i]:
            continue
        keep = False
        for j in range(i + 1, n):
            nb = blocks[j]
            if nb.kind == "heading" and nb.level <= b.level:
                break
            if out[j] and nb.kind != "heading":
                keep = True
                break
            if nb.kind == "heading" and out[j]:
                keep = True  # kept subheading implies content below
                break
        out[i] = keep
    return out
