"""PySpark-native main-content extraction engine.

Re-expresses the per-document transform semantics of the reference
(Omermuhammadi/LLM-Powered-PDF-Extractor, /root/reference) as a
vectorized, distributed pipeline over a table of multi-turn transcripts
(conv_id, turn_idx, role, text, tool, ts).

Layout:
  engine.kernel — pure-Python deterministic transform kernel (the
      single-node oracle; unit-testable without Spark).
  engine.spark  — distribution layer: schemas, the fused Arrow-batched
      extraction stage, partitioning/skew/ordering, checkpointed sink,
      analytics operators.
"""

__version__ = "0.1.0"
