#!/usr/bin/env python3
"""The repository's benchmark: cold, fresh-process runs of JSON schema
discovery, shredding, and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The workloads (BENCHMARK.json says why
each was chosen):

- ``gharchive_ndjson``: GitHub-archive-shaped NDJSON shards; per pass
  ``infer.infer_schema`` + ``to_hive_ddl``/``to_flat``, then
  ``infer.load_json_column`` + a group-by on ``parsed.type``, then
  ``shred.shred_column`` + ``shred.shred_to_dir``. Spark on local[nproc].
- ``drift_gz_local``: pretty-printed, concatenated ``.json.gz`` shards with
  drifting optional keys; per pass ``cli.find_json_schema`` (DDL), the same
  with ``-f``, and ``cli.shred_json``, in process, without Spark; one
  single-core stream of passes per core.
- ``registry_sf01``: one cold pass over every fourth ``bench.HEADLINE``
  entry, each once to a noop sink, over tables made by
  ``tools/gen_scaledata.py --sf 0.01`` (they do not depend on the seed);
  its traced run times all 28 headline entries, the streaming entries and
  per-module Spark counters.

This process pins the environment and starts ``worker.py`` as a fresh
process that sets up and measures. Inputs are made from ``--seed`` and
cached under ``perfbench/.work/cache`` by seed and size, outside every
metric. With ``--trace 0`` the last line of stdout carries the end-to-end
metrics: ``setup_s``, the wall time from spawn until the workload is ready,
and ``pass_cpu_s``, the user CPU time of the program's processes for one
pass (worker.py says how it is taken); with ``--trace 1`` it carries the
per-layer metrics of a traced run, and the spans go to
``perfbench/.work/trace-<workload>-<seed>.json``. The line before it is
the run's provenance record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
GOLDENS = os.path.join(HERE, "goldens.json")
TIME_LIMIT_S = 170
# import-time probes per run of the Spark-free workload (about 0.1 s each)
SETUP_PROBES = 21

# corpus, most shards per run, documents per shard, files per shard; a pass
# reads one shard, made when the pass is due (outside its timing), and the
# loop ends once the passes have measured --seconds or the shards run out
SIZES = {
    "gharchive_ndjson": ("gharchive", 12, 8_000, 4),
    "drift_gz_local": ("drift", 48, 1_000, 2),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")
WORKLOADS = ("gharchive_ndjson", "drift_gz_local", "registry_sf01")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pinned_env(trace: bool, tmp: str) -> dict:
    """The worker's environment: cores, import path, scratch dirs, UI."""
    env = dict(os.environ)
    env.update(
        # get_spark defaults to local[32] without it
        SPARK_GRAFT_CPUS=str(nproc()),
        # Spark's Python workers import hive_json_spark from the repo root
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_UI="true" if trace else "false",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def ensure_tables(sf: str) -> str:
    """The registry's tables, generated once per checkout (their content
    does not depend on the benchmark seed)."""
    out = os.path.join(WORK, "cache", "tables")
    sf_dir = os.path.join(out, f"sf{sf}")
    if not all(os.path.exists(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES):
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "gen_scaledata.py"),
             "--sf", sf, "--out", out],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT, timeout=120,
        )
    return sf_dir


def run_child(cmd: list, env: dict, timeout: float) -> subprocess.CompletedProcess:
    """Run a child in its own process group; on timeout kill the whole group
    (the JVM and Spark's Python workers too) and wait for it."""
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        # nothing the child started may outlive it: kill what is left of
        # its group and wait until the group is empty
        deadline = time.time() + 30
        try:
            os.killpg(proc.pid, signal.SIGKILL)
            while time.time() < deadline:
                time.sleep(0.05)
                os.killpg(proc.pid, 0)
        except ProcessLookupError:
            pass
    return subprocess.CompletedProcess(cmd, proc.returncode, out)


def import_setup_s(env: dict) -> float:
    """Set-up time of the Spark-free workload: a fresh interpreter until
    the CLI module is imported."""
    spawned = time.time()
    done = run_child([sys.executable, "-c", "import time, hive_json_spark.cli; print(time.time())"],
                     env, 60)
    return float(done.stdout.split()[-1]) - spawned


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs for the benchmark's own smoke tests
    ap.add_argument("--docs", type=int, help="documents per shard")
    ap.add_argument("--sf", default="0.01", help="scale factor of the registry's tables")
    args = ap.parse_args()
    t_start = time.time()

    for need in ("hive_json_spark", "bench.py", os.path.join("tools", "gen_scaledata.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    sys.path.insert(0, ROOT)
    import bench  # provenance helpers, shared with the headline bench
    load_start = os.getloadavg()
    ticks_start = bench._cpu_ticks()
    tables = ensure_tables(args.sf) if args.workload == "registry_sf01" else ""
    corpus = list(SIZES.get(args.workload, ("none", 0, 0, 0)))
    if args.docs:
        corpus[2] = args.docs

    # everything the run writes but the trace goes to its own directory,
    # removed when the run ends
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        env = pinned_env(bool(args.trace), tmp)
        result_path = os.path.join(run_dir, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--tables", tables,
            "--goldens", GOLDENS, "--work", run_dir, "--cache", os.path.join(WORK, "cache"),
            "--trace-file", os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
            "--result", result_path, "--corpus", *map(str, corpus),
            "--spawned", repr(time.time()),
        ]
        try:
            done = run_child(cmd, env, TIME_LIMIT_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
            return 1
        sys.stderr.write(done.stdout)
        if done.returncode != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker failed (exit {done.returncode})", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            result = json.load(fh)
        metrics = result["metrics"]
        if args.workload == "drift_gz_local" and not args.trace:
            # set up several times in fresh interpreters; report the median
            metrics["setup_s"]["value"] = statistics.median(
                import_setup_s(env) for _ in range(SETUP_PROBES))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ticks_end = bench._cpu_ticks()
    steal = None
    if ticks_start and ticks_end:
        steal = 100 * (ticks_end[0] - ticks_start[0]) / max(ticks_end[1] - ticks_start[1], 1)
    sha = bench._engine_git_sha()
    provenance = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "engine_git_sha": sha.removesuffix("-dirty") if sha else None,
        "dirty": bool(sha and sha.endswith("-dirty")),
        "nproc": nproc(), "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
        "cpu_steal_pct": steal, "pass_walls_s": result["pass_walls_s"],
        "pass_cpus_s": result["pass_cpus_s"], "pass_sys_s": result["pass_sys_s"],
        "failures": result["failures"],
    }
    failed = len(result["failures"])
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
