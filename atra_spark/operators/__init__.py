"""Frontier / seen-set / politeness operators and the persistent seen
and near-dup indexes — the crawl dataflow stages of SURVEY.md §2,
expressed as DataFrame ops."""
