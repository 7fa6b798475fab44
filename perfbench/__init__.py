"""Benchmark of the graph_importer_spark engine; see README.md."""
