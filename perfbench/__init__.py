"""Benchmark of the greatex_spark pipeline and operator queries; see run.py."""
