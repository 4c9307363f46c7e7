"""docvision_spark — a PySpark-native, deterministic main-content extraction engine.

Capability parity target: fahmiaziz98/docvision (reference, read-only at
/root/reference). The reference is a single-process asyncio pipeline that
delegates extraction to a VLM API / ONNX OCR (reference src/docvision/core/parser.py).
This engine replaces the per-document model calls with a from-scratch,
deterministic extraction kernel (HTML tokenizer + DOM + text/link-density
boilerplate classification; pdfminer-style PDF text-layout parse) executed
inside vectorized pandas/Arrow UDFs over a partitioned Common-Crawl-style
pages table — no per-row Python, resumable snapshots, per-partition lineage.
"""

__version__ = "0.3.1"

# bump on any kernel-output-visible change (goldens must be regenerated)
EXTRACTOR_VERSION = "docvision-spark-kernel/0.11.2"  # 0.11.2: one XML scanner (feed DOCTYPE subsets, PIs end at ?>, quoted ">" in attributes), V5 /Perms key check; 0.11.1: feed capture-leak/title-selfclose + href attr-boundary fixes; 0.11: out-link capture
