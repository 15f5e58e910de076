"""The output checks: tree invariants, and the digest on a tiny input."""
import os
import shutil
import subprocess
import sys

import pytest

import gen
import kernel
import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("arcs, bad", [
    ([(1, "a", 2, "nsubj"), (2, "b", 0, "root")], False),
    ([(1, "a", 0, "root"), (2, "b", 0, "root")], True),        # two roots
    ([(1, "a", 2, "x"), (2, "b", 1, "x"), (3, "c", 0, "root")], True),  # cycle
    ([(1, "a", 3, "x"), (2, "b", 0, "root")], True),           # head out of range
    ([(1, "a", 2, "x"), (2, "b", 1, "x")], True),              # no root
])
def test_tree_malformed(arcs, bad):
    assert kernel.tree_malformed(arcs) is bad


def test_benchmark_json_matches_run():
    import json

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)


def test_refuses_without_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "open-vocab", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from vnlp_spark.session import get_spark

    s = get_spark(cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_digest_stable_on_tiny_input(spark, tmp_path):
    """The same documents give the same triples/entities/edges digest on a
    second pass (warm caches), and other documents give another one."""
    from vnlp_spark.plans import pipeline

    g = gen.Generator("open-vocab", 1)
    paths = []
    for k in range(2):
        paths.append(str(tmp_path / str(k)))
        gen.write_slice(g.slice(k, 12), paths[-1], 2)

    def digests(path):
        r = pipeline.run_kg_pipeline(spark.read.parquet(path))
        return [run._digest(df)[1] for df in (r.triples, r.entities, r.edges)]

    first = digests(paths[0])
    assert digests(paths[0]) == first
    assert digests(paths[1]) != first
    assert all(not d.startswith("0:") for d in first)
