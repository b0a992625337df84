"""Structured Streaming layer — the streaming half of the engine.

Reference parity map (SURVEY.md §2.9, §2.3, §2.4, §2.6):
- watermark assigner → ``withWatermark`` (sources.py)
- window TVF aggs (TUMBLE/HOP/CUMULATE/SESSION) → windows.py
- streaming deduplicate → dedup.py
- window join / interval join → joins.py
- stateful custom ops (Top-N, keep-last, streaming OVER, changelog) →
  stateful.py, on the Python keyed-state skeletons in keyed.py
"""
