import json
import os

from perfbench import sink_bench, spark_bench

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_per_layer_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["per_layer"]]
    produced = set(sink_bench.PER_LAYER) | set(spark_bench.PER_LAYER)
    assert len(declared) == len(set(declared))
    assert set(declared) == produced
