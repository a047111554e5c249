"""One measured run of one workload, in a fresh process (started by run.py).

The worker sets up (imports; for the Spark workloads also ``get_spark`` and
one warm-up job), then runs passes over the workload's operations in a
closed loop with one client: each pass starts when the previous one ends,
and each pass reads a shard no earlier pass read, so no operation is
repeated and no cache filled by an earlier pass serves it. Each operation
is timed in wall time and in the user and system CPU time of all the
program's processes. After each operation, outside its timing, the worker
checks its output against the generator's truth and the recorded goldens.
It writes one JSON result file.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import multiprocessing
import os
import re
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, deque

from gen import ensure_shard
from spans import SPARK_FIELDS, Tracer

REGISTRY_MODULES = (
    "queries_relational", "queries_inference", "queries_pipeline", "queries_scale",
    "queries_streaming",
)
MODULE_FIELDS = ("build_s", "action_s") + SPARK_FIELDS
# The first passes pay one-time costs: Spark's Python workers import the
# engine, and the JVM compiles the plans and its hot code. On gharchive that
# takes the user CPU of a pass from about 2.5x its settled value on the
# first pass to about 1.3x on the third and within about a tenth on the
# fourth, and the fifth varies half as much between runs as the fourth.
# They are warm-up; the first is reported apart as cold_pass_s. The passes
# after them are measured: MEASURED_PASSES at least, and --seconds of them
# (about three gharchive passes). pass_cpu_s is the median user CPU of the
# measured passes. User CPU, not wall time: on a shared host other tenants
# move wall time much more (gharchive passes 2.5x slower in wall at 25% CPU
# steal, 1.25x in user CPU). They still move user CPU, since the speed of
# a core swings by up to 2x within seconds (on a 4-vCPU cloud guest a fixed
# piece of interpreter work took 0.033 s and 0.07 s of CPU in turns).
WARMUP_PASSES = {"gharchive_ndjson": 3, "drift_gz_local": 1, "registry_sf01": 0}
MEASURED_PASSES = 3
_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu() -> tuple:
    """User and system CPU seconds (reaped children included) of every
    process in this worker's session: the worker itself (to the
    microsecond), the JVM and Spark's Python workers (to the clock tick;
    the workers' daemon leaves the process group, not the session). Unlike
    wall time, user time leaves out the time a process waits for a core
    and the kernel's file-system work, the two that other tenants of a
    shared host move the most."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    sid, own = os.getsid(0), str(os.getpid())
    user, system = me.ru_utime * _TICK, me.ru_stime * _TICK
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or pid == own:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                # fields after the command name, from field 3 (state) on
                fields = fh.read().rpartition(")")[2].split()
        except OSError:  # ended since the listing
            continue
        if int(fields[3]) == sid:  # field 6, session
            user += int(fields[11]) + int(fields[13])  # utime, cutime
            system += int(fields[12]) + int(fields[14])  # stime, cstime
    # children the worker has reaped, gone from /proc
    children = resource.getrusage(resource.RUSAGE_CHILDREN)
    user += children.ru_utime * _TICK
    system += children.ru_stime * _TICK
    return user / _TICK, system / _TICK


def own_cpu() -> tuple:
    """User and system CPU seconds of this process alone."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    return me.ru_utime, me.ru_stime


def registry_entries() -> list:
    """The registry workload's traced entries, in run order:
    ``bench.HEADLINE`` then the streaming entries."""
    from bench import HEADLINE
    from hive_json_spark.registry import QUERIES

    return HEADLINE + sorted(q for q in QUERIES if q.startswith("q_stream_"))


def registry_timed() -> list:
    """The entries of the registry workload's untraced pass, whose user CPU
    is ``pass_cpu_s``: every fourth ``bench.HEADLINE`` entry (7 of 28). All
    28 cold, after Spark's set-up, take about a minute on a 4-core host, too
    long to repeat for every measurement beside the corpus workloads."""
    from bench import HEADLINE

    return HEADLINE[::4]


def per_layer_names() -> list:
    """Every per-layer metric name, in report order. All workloads report
    all of them, 0 for a layer a workload does not reach."""
    return [
        "session.get_spark_s", "session.warmup_s",
        "scan.input_mb", "scan.partitions", "scan.gunzip_s",
        "infer.infer_schema_s", "infer.jobs", "infer.tasks", "infer.executor_run_s",
        "infer.executor_cpu_s",
        "types.decode_kdocs_per_s", "types.induce_kdocs_per_s",
        "types.merge_kdocs_per_s", "types.render_s", "types.schema_nodes",
        "types.merge_widen_frac", "types.merge_identity_frac",
        "infer.load_json_column_s", "load.action_s", "load.jobs", "load.shuffle_write_mb",
        "shred.shred_column_s", "shred.shred_to_dir_s", "shred.shred_files_local_s",
        "shred.jobs", "shred.executor_run_s", "shred.rows_out", "shred.leaf_paths",
        "shred.bytes_out_per_byte_in",
        "discover_docs_per_s", "load_query_s", "shred_docs_per_s",
        "sources.register_all_s",
        *(f"registry.{q}.wall_s" for q in registry_entries()),
        *(f"{m}.{f}" for m in REGISTRY_MODULES for f in MODULE_FIELDS),
        "headline_wall_s", "streaming_wall_s",
        "cold_pass_s", "peak_rss_mb", "failed_op_frac", "trace.pass_wall_s", "trace.pass_sys_s",
        "trace.overhead_s",
    ]


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def count_lines(paths) -> int:
    n = 0
    for p in paths:
        with open(p, "rb") as fh:
            n += fh.read().count(b"\n")
    return n


def shard_key(shard: str) -> str:
    """Goldens key of a shard: its corpus (name, seed, size) and number."""
    return "/".join(shard.split(os.sep)[-2:])


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """State of one run: the session, the tracer, the goldens, and the
    operation ledger (attempted, failures)."""

    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=args.trace)
        with open(args.goldens) as fh:
            self.goldens = json.load(fh)
        self.spark = None
        self.attempted = 0
        self.failures: list = []
        self.passes: list = []  # one dict of span durations/counters per pass
        self.warmup = WARMUP_PASSES[args.workload]
        # the drift workload's passes run in parallel processes of one session
        self.cpu = own_cpu if args.workload == "drift_gz_local" else session_cpu
        self.layers: dict = {}

    def measured(self) -> list:
        """The passes after the warm-up ones."""
        return self.passes[self.warmup:]

    def warm_median(self, key: str) -> float:
        return median(p[key] for p in self.measured())
    # -- operation ledger ------------------------------------------------------

    def op(self, name: str, fn, check):
        """Run one operation under a span, then check its output (untimed).
        The span gets the operation's user and system CPU time as ``cpu_s``
        and ``sys_s``. A raise or a failed check counts the operation as
        failed."""
        self.attempted += 1
        span = {"dur_s": 0.0}
        user, system = self.cpu()
        try:
            try:
                with self.tracer.span(name) as span:
                    value = fn()
            finally:
                user_end, system_end = self.cpu()
                span.update(cpu_s=user_end - user, sys_s=system_end - system)
            problem = check(value)
        except Exception as exc:  # the run goes on; the failure is counted
            traceback.print_exc(file=sys.stderr)
            problem = f"{type(exc).__name__}: {exc}"
        if problem:
            self.failures.append(f"{name}: {problem}")
        return span

    def golden(self, key: str, value: str):
        """Compare with the recorded golden for ``key``, if there is one
        (digests are recorded for seed 1 only; the checks against the
        generator's truth hold for every seed)."""
        want = self.goldens.get(key)
        return None if want in (None, value) else f"{key} is {value}, golden {want}"

    # -- set-up ------------------------------------------------------------------

    def start_spark(self) -> None:
        from hive_json_spark.session import get_spark

        with self.tracer.span("session.get_spark") as s1:
            self.spark = get_spark(
                "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark)
        with self.tracer.span("session.warmup") as s2:
            # starts the JVM's executor threads and the Python worker pool,
            # as bench.py's warm-up does
            n = self.spark.sparkContext.defaultParallelism
            self.spark.range(0, n * 4, 1, n).mapInPandas(lambda it: it, "id long").write.format(
                "noop").mode("overwrite").save()
        self.layers["session.get_spark_s"] = s1["dur_s"]
        self.layers["session.warmup_s"] = s2["dur_s"]

    # -- workloads ---------------------------------------------------------------

    def gharchive_pass(self, shard: str, truth: dict) -> dict:
        from pyspark.sql import functions as F

        from hive_json_spark import infer, shred
        from hive_json_spark.types import to_flat, to_hive_ddl

        spark, tr = self.spark, self.tracer
        files = [os.path.join(shard, f) for f in truth["files"]]
        key = shard_key(shard)
        out_dir = os.path.join(self.args.work, "shred-out")
        shutil.rmtree(out_dir, ignore_errors=True)
        found = {}

        def discover():
            with tr.span("infer.infer_schema") as s:
                res = infer.infer_schema(spark, files)
            with tr.span("types.render") as r:
                ddl, flat = to_hive_ddl(res.htype), to_flat(res.htype)
            found.update(res=res, infer=s, render=r)
            return res, ddl, flat

        def check_discover(value):
            res, ddl, flat = value
            if res.records != truth["docs"]:
                return f"{res.records} records, generated {truth['docs']}"
            return (check_ddl(ddl, truth) or check_flat(flat, truth)
                    or self.golden(key + "/ddl", digest(ddl))
                    or self.golden(key + "/flat", digest(flat)))

        def load():
            with tr.span("infer.load_json_column") as s:
                df = infer.load_json_column(spark.read.text(files), "value", found["res"].htype)
            with tr.span("load.action") as a:
                rows = df.groupBy(F.col("parsed.type")).count().collect()
            found.update(load=s, action=a)
            return {r[0]: r[1] for r in rows}

        def do_shred():
            with tr.span("shred.shred_column") as s:
                sdf = shred.shred_column(spark.read.text(files), "value")
            with tr.span("shred.shred_to_dir") as w:
                shred.shred_to_dir(sdf, out_dir)
            found.update(shred_column=s, shred_to_dir=w)
            return out_dir

        def check_shred(path):
            got = {}
            for d in os.listdir(path):
                if d.startswith("path="):
                    full = os.path.join(path, d)
                    got[d[5:]] = count_lines(os.path.join(full, f) for f in os.listdir(full)
                                             if f.startswith("part-"))
            found["shred_rows"] = sum(got.values())
            found["shred_paths"] = len(got)
            found["shred_bytes"] = sum(
                os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path)
                for f in fs if f.startswith("part-"))
            return None if got == truth["leaf_counts"] else (
                f"{len(got)} paths / {sum(got.values())} rows, "
                f"walk {len(truth['leaf_counts'])} / {truth['rows']}")

        d = self.op("discover", discover, check_discover)
        lq = self.op("load_query", load,
                     lambda got: None if got == truth["types"] else f"groups {got}")
        sh = self.op("shred", do_shred, check_shred)
        in_bytes = sum(os.path.getsize(f) for f in files)
        p = {"wall_s": d["dur_s"] + lq["dur_s"] + sh["dur_s"],
             "cpu_s": d["cpu_s"] + lq["cpu_s"] + sh["cpu_s"],
             "sys_s": d["sys_s"] + lq["sys_s"] + sh["sys_s"], "docs": truth["docs"],
             "discover_s": d["dur_s"], "load_query_s": lq["dur_s"], "shred_s": sh["dur_s"]}
        if self.args.trace and "shred_to_dir" in found:
            res = found["res"]
            p.update({
                "scan.input_mb": in_bytes / 2**20,
                "scan.partitions": spark.read.text(files).rdd.getNumPartitions(),
                "infer.infer_schema_s": found["infer"]["dur_s"],
                "infer.jobs": found["infer"]["jobs"], "infer.tasks": found["infer"]["tasks"],
                "infer.executor_run_s": found["infer"]["executor_run_s"],
                "infer.executor_cpu_s": found["infer"]["executor_cpu_s"],
                "types.render_s": found["render"]["dur_s"],
                "types.schema_nodes": count_nodes(res.htype),
                "infer.load_json_column_s": found["load"]["dur_s"],
                "load.action_s": found["action"]["dur_s"],
                "load.jobs": found["action"]["jobs"],
                "load.shuffle_write_mb": found["action"]["shuffle_write_mb"],
                "shred.shred_column_s": found["shred_column"]["dur_s"],
                "shred.shred_to_dir_s": found["shred_to_dir"]["dur_s"],
                "shred.jobs": found["shred_to_dir"]["jobs"],
                "shred.executor_run_s": found["shred_to_dir"]["executor_run_s"],
                "shred.rows_out": found["shred_rows"],
                "shred.leaf_paths": found["shred_paths"],
                "shred.bytes_out_per_byte_in": found["shred_bytes"] / in_bytes,
            })
        return p

    def drift_pass(self, shard: str, truth: dict) -> dict:
        from hive_json_spark import cli

        files = [os.path.join(shard, f) for f in truth["files"]]
        key = shard_key(shard)
        out_dir = os.path.join(self.args.work, f"shred-out-{os.getpid()}")
        shutil.rmtree(out_dir, ignore_errors=True)

        def run_cli(fn, argv):
            def call():
                out, err = io.StringIO(), io.StringIO()
                with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                    rc = fn(argv)
                return rc, out.getvalue(), err.getvalue()
            return call

        def check_find(kind, against_truth):
            def check(value):
                rc, out, err = value
                if rc != 0 or f"{truth['docs']} records read" not in err:
                    return f"rc {rc}, {err.strip().splitlines()[-1:]}"
                return against_truth(out, truth) or self.golden(f"{key}/{kind}", digest(out))
            return check

        found = {}

        def check_shred(value):
            rc, out, _ = value
            if rc != 0 or f"{truth['docs']} records read" not in out:
                return f"rc {rc}"
            got = {f[:-4]: count_lines([os.path.join(out_dir, f)]) for f in os.listdir(out_dir)}
            found.update(rows=sum(got.values()), paths=len(got), bytes=sum(
                os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)))
            return None if got == truth["leaf_counts"] else (
                f"{len(got)} paths / {sum(got.values())} rows, "
                f"walk {len(truth['leaf_counts'])} / {truth['rows']}")

        d = self.op("discover", run_cli(cli.find_json_schema, files),
                    check_find("ddl", check_ddl))
        f = self.op("discover_flat", run_cli(cli.find_json_schema, ["-f"] + files),
                    check_find("flat", check_flat))
        sh = self.op("shred", run_cli(cli.shred_json, ["-o", out_dir] + files), check_shred)
        p = {"wall_s": d["dur_s"] + f["dur_s"] + sh["dur_s"],
             "cpu_s": d["cpu_s"] + f["cpu_s"] + sh["cpu_s"],
             "sys_s": d["sys_s"] + f["sys_s"] + sh["sys_s"], "docs": truth["docs"],
             "discover_s": d["dur_s"], "shred_s": sh["dur_s"]}
        if self.args.trace and "rows" in found:
            in_bytes = sum(os.path.getsize(x) for x in files)
            p.update({
                "scan.input_mb": in_bytes / 2**20,
                "shred.shred_files_local_s": sh["dur_s"],
                "shred.rows_out": found["rows"],
                "shred.leaf_paths": found["paths"],
                "shred.bytes_out_per_byte_in": found["bytes"] / in_bytes,
            })
        return p

    def registry_pass(self) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from bench import HEADLINE
        from hive_json_spark import registry
        from hive_json_spark.sources import register_all

        spark, tr, sf_dir = self.spark, self.tracer, self.args.tables
        sf = os.path.basename(sf_dir)
        owner = {n: m.__name__.rsplit(".", 1)[1] for m in registry._MODULES for n in m.QUERIES}
        if self.args.trace:
            with tr.span("sources.register_all") as s:
                register_all(spark, sf_dir)
            self.layers["sources.register_all_s"] = s["dur_s"]
        # the traced run times all of the headline and the streaming entries
        entries = registry_entries() if self.args.trace else registry_timed()
        p = {}
        modules = {m: Counter() for m in REGISTRY_MODULES}
        for name in entries:
            parts = {}

            def run(name=name, parts=parts):
                with tr.span("build") as b:
                    df = registry.QUERIES[name](spark, sf_dir)
                obs = Observation(name)
                with tr.span("action") as a:
                    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                        "noop").mode("overwrite").save()
                parts.update(build=b, action=a)
                return obs.get["rows"]

            e = self.op(f"registry.{name}", run,
                        lambda rows, name=name: self.golden(f"registry/{sf}/{name}/rows", str(rows)))
            # as bench.py does: no entry inherits another's cached frames
            spark.catalog.clearCache()
            p[f"registry.{name}.wall_s"] = e["dur_s"]
            p[f"registry.{name}.cpu_s"] = e["cpu_s"]
            p[f"registry.{name}.sys_s"] = e["sys_s"]
            if parts:
                acc = modules[owner[name]]
                acc["build_s"] += parts["build"]["dur_s"]
                acc["action_s"] += parts["action"]["dur_s"]
                for f in SPARK_FIELDS:
                    acc[f] += parts["action"].get(f, 0) + parts["build"].get(f, 0)
        for m, acc in modules.items():
            for f in MODULE_FIELDS:
                p[f"{m}.{f}"] = acc[f]
        p["wall_s"] = sum(p[f"registry.{q}.wall_s"] for q in registry_timed())
        p["cpu_s"] = sum(p[f"registry.{q}.cpu_s"] for q in registry_timed())
        p["sys_s"] = sum(p[f"registry.{q}.sys_s"] for q in registry_timed())
        if self.args.trace:
            p["headline_wall_s"] = sum(p[f"registry.{q}.wall_s"] for q in HEADLINE)
            p["streaming_wall_s"] = sum(p[f"registry.{q}.wall_s"] for q in entries[len(HEADLINE):])
        return p

    # -- per-layer replay of the type lattice ---------------------------------------

    def replay_types(self, files: list) -> None:
        """Replay discovery over whole files on one core, timing decode,
        induce and merge apart, and count the merges that changed the
        accumulator or returned it unchanged."""
        from hive_json_spark.infer import _open_text
        from hive_json_spark.types import (
            infer_type, iter_json_documents, merge_types, to_flat, to_hive_ddl)

        t = time.perf_counter()
        texts = []
        for f in files:
            with _open_text(f) as fh:
                texts.append(fh.read())
        if files[0].endswith(".gz"):
            self.layers["scan.gunzip_s"] = time.perf_counter() - t
        t = time.perf_counter()
        docs = [d for text in texts for d in iter_json_documents(text)]
        decode = time.perf_counter() - t
        t = time.perf_counter()
        types = [infer_type(d) for d in docs]
        induce = time.perf_counter() - t
        t = time.perf_counter()
        acc = None
        for ty in types:
            acc = merge_types(acc, ty)
        merge = time.perf_counter() - t
        widened = same = 0
        acc = None
        for ty in types:
            new = merge_types(acc, ty)
            widened += new != acc
            same += new is acc
            acc = new
        k = len(docs) / 1000
        self.layers.update({
            "types.decode_kdocs_per_s": k / decode,
            "types.induce_kdocs_per_s": k / induce,
            "types.merge_kdocs_per_s": k / merge,
            "types.merge_widen_frac": widened / len(docs),
            "types.merge_identity_frac": same / len(docs),
        })
        if self.args.workload == "drift_gz_local":  # the CLI renders inside its own call
            t = time.perf_counter()
            to_hive_ddl(acc), to_flat(acc)
            self.layers["types.render_s"] = time.perf_counter() - t
            self.layers["types.schema_nodes"] = count_nodes(acc)


_NUMBER = re.compile(r"tinyint|smallint|int|bigint|float|double|decimal\(\d+,\d+\)")
_TEXT = ("string", "binary", "timestamp")


def flat_families(flat: str) -> dict:
    """The flat listing as ``{path: [type families]}``, with paths spelled
    as the generator's walk spells them: union branches (``.0``, ``.1``)
    dropped, ``._list`` as ``.list``, and ``void`` leaves (only nulls or
    empty lists seen) left out."""
    out: dict = {}
    for line in flat.splitlines():
        path, _, leaf = line.rpartition(": ")
        if leaf == "void":
            continue
        parts = ["list" if p == "_list" else p for p in path.split(".") if not p.isdigit()]
        family = ("boolean" if leaf == "boolean" else "text" if leaf in _TEXT
                  else "number" if _NUMBER.fullmatch(leaf) else f"unknown {leaf}")
        out.setdefault(".".join(parts), set()).add(family)
    return {path: sorted(fams) for path, fams in out.items()}


def check_flat(flat: str, truth: dict):
    """The flat listing names every leaf path the generator wrote, with the
    type families written there, and nothing else."""
    got, want = flat_families(flat), truth["leaf_kinds"]
    if got == want:
        return None
    diff = sorted(p for p in set(got) | set(want) if got.get(p) != want.get(p))[:3]
    return f"flat listing has {len(got)} leaf paths, generated {len(want)}; differ at {diff}"


def check_ddl(ddl: str, truth: dict):
    """The DDL has one column per top-level key the generator wrote."""
    got = sorted(re.findall(r"^  ([^\s:]+) ", ddl, re.M))
    return None if got == truth["top_keys"] else (
        f"DDL has {len(got)} columns, generated {len(truth['top_keys'])} top-level keys")


def count_nodes(t) -> int:
    from hive_json_spark import types as T

    if isinstance(t, T.StructT):
        return 1 + sum(count_nodes(ft) for _, ft in t.fields)
    if isinstance(t, T.ListT):
        return 1 + count_nodes(t.element)
    if isinstance(t, T.UnionT):
        return 1 + sum(count_nodes(c) for c in t.children)
    if isinstance(t, T.MapT):
        return 1 + count_nodes(t.key) + count_nodes(t.value)
    return 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corpus", nargs=4, metavar=("NAME", "SHARDS", "DOCS", "FILES"))
    ap.add_argument("--tables", default="")
    ap.add_argument("--goldens", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-file", required=True)
    args = ap.parse_args(argv)
    args.trace = bool(args.trace)

    import hive_json_spark.cli  # noqa: F401  (the Spark-free workload's set-up)

    run = Run(args)
    if args.workload != "drift_gz_local":
        run.start_spark()
    setup_s = time.time() - args.spawned

    if args.workload == "registry_sf01":
        run.passes.append(run.registry_pass())
    elif args.workload == "drift_gz_local" and not args.trace:
        drift_streams(run)
    else:
        step = run.gharchive_pass if args.workload == "gharchive_ndjson" else run.drift_pass
        corpus, n_shards, docs, files = args.corpus[0], *map(int, args.corpus[1:])
        shards = []
        while len(shards) < n_shards and (
                len(run.measured()) < MEASURED_PASSES
                or sum(p["wall_s"] for p in run.measured()) < args.seconds):
            # generated (or read from the cache) between passes, untimed
            shards.append(ensure_shard(args.cache, corpus, args.seed, len(shards), docs, files))
            with open(os.path.join(shards[-1], "truth.json")) as fh:
                truth = json.load(fh)
            run.passes.append(step(shards[-1], truth))
        if args.trace:
            # every drift shard this run read, in order; one gharchive file
            files = []
            for shard in shards:
                with open(os.path.join(shard, "truth.json")) as fh:
                    files += [os.path.join(shard, f) for f in json.load(fh)["files"]]
            run.replay_types(files if args.workload == "drift_gz_local" else files[:1])

    rss = peak_rss_mb()
    if run.spark is not None:
        jvm = run.spark.sparkContext._jvm
        rss += peak_rss_mb(jvm.java.lang.ProcessHandle.current().pid())

    run.layers["peak_rss_mb"] = rss
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (run.warm_median("cpu_s"), "s"),
    }
    if args.trace:
        metrics = layer_metrics(run)
    result = {
        "attempted": run.attempted,
        "failures": run.failures,
        "pass_walls_s": [p["wall_s"] for p in run.passes],
        "pass_cpus_s": [p["cpu_s"] for p in run.passes],
        "pass_sys_s": [p["sys_s"] for p in run.passes],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if args.trace:
        run.tracer.write(args.trace_file)
    if run.spark is not None:
        run.spark.stop()
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


_STREAM_RUN = None  # the Run a drift stream process forks from


def _drift_stream_pass(index: int) -> tuple:
    """One drift pass on shard ``index``, and its share of the ledger."""
    run, args = _STREAM_RUN, _STREAM_RUN.args
    attempted, failed = run.attempted, len(run.failures)
    corpus, _, docs, files = args.corpus[0], *map(int, args.corpus[1:])
    # generated (or read from the cache) before the pass, untimed
    shard = ensure_shard(args.cache, corpus, args.seed, index, docs, files)
    with open(os.path.join(shard, "truth.json")) as fh:
        truth = json.load(fh)
    p = run.drift_pass(shard, truth)
    return p, run.attempted - attempted, run.failures[failed:]


def drift_streams(run: Run) -> None:
    """The drift workload's measured passes, one single-core stream per
    core: after a warm-up pass in this process (the streams fork from it
    warm), nproc processes run passes on shards no other pass read until
    --seconds have gone by and MEASURED_PASSES passes are done. One stream
    alone lands in the host's fast or slow phase as a whole (its run
    medians were bimodal, 1.02-1.08 s against 1.22-1.81 s); passes on all
    cores at once follow the host's mix, as the Spark workloads do. The
    traced run keeps one stream, so that its spans stay in one process."""
    global _STREAM_RUN
    _STREAM_RUN = run
    args = run.args
    n_shards = int(args.corpus[1])
    run.passes.append(_drift_stream_pass(0)[0])  # counted in run's own ledger
    nproc = len(os.sched_getaffinity(0))
    start = time.perf_counter()
    pending: deque = deque()
    next_shard = 1
    with multiprocessing.get_context("fork").Pool(nproc) as pool:
        while True:
            running = (time.perf_counter() - start < args.seconds
                       or len(run.measured()) + len(pending) < MEASURED_PASSES)
            while running and len(pending) < nproc and next_shard < n_shards:
                pending.append(pool.apply_async(_drift_stream_pass, (next_shard,)))
                next_shard += 1
            if not pending:
                break
            p, attempted, failures = pending.popleft().get()
            run.passes.append(p)
            run.attempted += attempted
            run.failures += failures
        pool.close()
        pool.join()


def layer_metrics(run: Run) -> dict:
    """Per-layer metrics of a traced run: the median over the measured
    passes of each pass-level figure, plus the run-level ones; 0 for a
    layer this workload does not reach."""
    names = per_layer_names()
    out = dict.fromkeys(names, 0.0)
    out.update(run.layers)
    warm = run.measured()
    for name in names:
        vals = [p[name] for p in warm if name in p]
        if vals:
            out[name] = median(vals)
    if "discover_s" in warm[0]:
        out["discover_docs_per_s"] = median(p["docs"] / p["discover_s"] for p in warm)
        out["shred_docs_per_s"] = median(p["docs"] / p["shred_s"] for p in warm)
    out["load_query_s"] = median(p["load_query_s"] for p in warm if "load_query_s" in p)
    out["failed_op_frac"] = len(run.failures) / max(run.attempted, 1)
    out["cold_pass_s"] = run.passes[0]["wall_s"]
    out["trace.pass_wall_s"] = run.warm_median("wall_s")
    out["trace.pass_sys_s"] = run.warm_median("sys_s")
    out["trace.overhead_s"] = run.tracer.overhead_s / len(run.passes)
    return {n: (out[n], unit(n)) for n in names}


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name's suffix."""
    for suffix, u in (("kdocs_per_s", "kdocs/s"), ("docs_per_s", "docs/s"), ("_mb", "MB"),
                      ("_s", "s"), ("_frac", "ratio"), ("per_byte_in", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
