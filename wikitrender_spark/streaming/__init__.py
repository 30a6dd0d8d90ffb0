"""Streaming core: shared event fold, stateful changelog processor.

SURVEY.md §7 step 5 — the incremental form of the engine. Modules:
- fold: the bucket fold kernel, shared with the batch replay;
- processor: the one stateful changelog pipeline
  (applyInPandasWithState) + purge P2.
"""
