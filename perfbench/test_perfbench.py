"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The smoke runs start Spark and take about two minutes together.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import re
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import worker  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("corpus", ["gharchive", "drift"])
def test_generator_is_deterministic(tmp_path, corpus):
    a = gen.ensure_shard(str(tmp_path / "a"), corpus, 7, 0, 60, 2)
    b = gen.ensure_shard(str(tmp_path / "b"), corpus, 7, 0, 60, 2)
    c = gen.ensure_shard(str(tmp_path / "c"), corpus, 8, 0, 60, 2)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for name in names:
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    first = names[0]
    with open(os.path.join(a, first), "rb") as fa, open(os.path.join(c, first), "rb") as fc:
        assert fa.read() != fc.read()


@pytest.mark.parametrize("corpus", ["gharchive", "drift"])
def test_leaf_walker_agrees_with_shred_records(corpus):
    from hive_json_spark.shred import shred_records
    from hive_json_spark.types import iter_json_documents

    rng = random.Random(3)
    for i in range(200):
        doc = gen.gharchive_doc(rng) if corpus == "gharchive" else gen.drift_doc(rng, i / 199)
        text = json.dumps(doc)
        walked: Counter = Counter()
        rows = gen.leaf_counts(json.loads(text), walked)
        shredded = Counter(path for path, _ in shred_records(next(iter_json_documents(text))))
        assert walked == shredded
        assert rows == sum(shredded.values())


def test_leaf_walker_rules():
    counts: Counter = Counter()
    kinds: dict = {}
    doc = {"a": None, "b": [1, [2, None]], "c": {"d": True, "e": {}}, "f": [1, "x"]}
    n = gen.leaf_counts(doc, counts, kinds=kinds)
    assert n == 5
    assert counts == Counter({"root.b.list": 1, "root.b.list.list": 1, "root.c.d": 1,
                              "root.f.list": 2})
    assert kinds == {"root.b.list": {"number"}, "root.b.list.list": {"number"},
                     "root.c.d": {"boolean"}, "root.f.list": {"number", "text"}}


@pytest.mark.parametrize("corpus", ["gharchive", "drift"])
def test_schema_checks_catch_a_wrong_listing(tmp_path, corpus):
    from hive_json_spark.types import (
        infer_type, iter_json_documents, merge_types, to_flat, to_hive_ddl)

    shard = gen.ensure_shard(str(tmp_path), corpus, 7, 0, 60, 2)
    with open(os.path.join(shard, "truth.json")) as fh:
        truth = json.load(fh)
    acc = None
    for name in truth["files"]:
        opener = gzip.open if name.endswith(".gz") else open
        with opener(os.path.join(shard, name), "rt", encoding="utf-8") as fh:
            for doc in iter_json_documents(fh.read()):
                acc = merge_types(acc, infer_type(doc))
    flat, ddl = to_flat(acc), to_hive_ddl(acc)
    assert worker.check_flat(flat, truth) is None
    assert worker.check_ddl(ddl, truth) is None
    lines = flat.splitlines(keepends=True)
    number = next(i for i, line in enumerate(lines) if line.endswith("int\n"))
    lines_as_text = lines[:number] + [lines[number].rpartition(": ")[0] + ": string\n"]
    assert worker.check_flat("".join(lines[1:]), truth)
    assert worker.check_flat("".join(lines_as_text + lines[number + 1:]), truth)
    assert worker.check_ddl(ddl.replace("\n  id ", "\n  idx "), truth)


def test_metric_names_match_the_contract():
    bench = _bench()
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    assert len(e2e) <= 16 and len(layers) <= 128
    assert len(set(e2e + layers)) == len(e2e) + len(layers)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
    assert layers == worker.per_layer_names()
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= bench["end_to_end"][0].items()
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert [w["name"] for w in bench["workloads"]] == [
        "gharchive_ndjson", "drift_gz_local", "registry_sf01"]


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload,extra", [
    ("drift_gz_local", ["--docs", "1000"]),
    ("gharchive_ndjson", ["--docs", "1000"]),
    ("registry_sf01", ["--sf", "0.001"]),
])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(workload, extra, trace):
    if workload == "registry_sf01" and trace == "1":
        pytest.skip("the traced registry run takes as long as the benchmark's own")
    done = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace,
                 *extra])
    assert done.returncode == 0, done.stderr[-3000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    bench = _bench()
    if trace == "0":
        want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    else:
        want = {n: worker.unit(n) for n in worker.per_layer_names()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    done = _run(["--workload", "drift_gz_local", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path), timeout=180)
    assert done.returncode != 0
    assert done.stdout.strip() == ""
