"""Benchmark of ct_mapreduce_spark: three closed-loop workloads with
end-to-end and per-layer metrics. See perfbench/README.md."""
