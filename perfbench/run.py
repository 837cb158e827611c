#!/usr/bin/env python3
"""Benchmark launcher: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload audit --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The launcher

1. builds the engine and the harness from source with sbt, once per source
   tree (a stamp of the sources decides whether to rebuild);
2. takes a scratch root of its own under `.perfbench/runs/` and a lock on
   it, and refuses to start while another run holds that lock;
3. writes the seed's input tables into the root (`gen_data.py`);
4. starts one JVM (`graft.perfbench.Main`) that warms up, times passes of
   the workload's entries for `--seconds`, and dumps their outputs through
   `graft.Verify`;
5. checks each output against its DuckDB oracle with `tools/check_oracle.py`
   over the same input; a missing output counts as a failure;
6. removes the scratch root, writes a detail record under
   `.perfbench/results/`, and prints one JSON line as the last line of
   standard output.

With `--trace 0` the line carries the end-to-end metrics, with `--trace 1`
the per-layer metrics of the traced passes; a traced run also writes its
spans to `.perfbench/results/<workload>-seed<n>-spans.jsonl`.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen_data
from workloads import WORKLOADS, PER_LAYER

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
STATE = REPO / ".perfbench"
CHECK_ORACLE = REPO / "tools" / "check_oracle.py"
HEAP_MB = 3072
RUN_TIMEOUT_S = 165  # the JVM's; the oracle check comes after it
BUILD_TIMEOUT_S = 840

# The options the engine's own build passes to a forked JVM (build.sbt),
# sized for this harness's heap.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [REPO / "build.sbt", REPO / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (REPO / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles and packages engine + harness; returns the classpath."""
    target = BENCH / "target"
    target.mkdir(exist_ok=True)
    cp_file, stamp_file = target / "perfbench.classpath", target / "perfbench.stamp"
    with open(target / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return cp_file.read_text().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        # sbt's own scratch files (server socket, file watcher, native
        # libraries, hsperfdata) go under the build's target or nowhere,
        # not into the system's /tmp
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
        tmp = target / "tmp"
        tmp.mkdir(exist_ok=True)
        with open(target / "build.log", "w") as log:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "compile",
                 "export perfbench/Runtime/fullClasspathAsJars"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
            log.write(r.stdout)
        lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
        if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            fail(f"build failed, see {target / 'build.log'}")
        cp_file.write_text(lines[-1])
        stamp_file.write_text(stamp)
        return lines[-1]


def jvm_command(classpath, root, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "--add-exports", "java.management/sun.management=ALL-UNNAMED",
        f"-Xmx{HEAP_MB}m", f"-Xms{HEAP_MB}m", f"-Xmn{HEAP_MB // 4}m",
        "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
        # no hsperfdata file in the system's /tmp
        "-XX:-UsePerfData",
        # back the heap with transparent huge pages: in six interleaved
        # pairs of runs, two of the six with 4 KB pages were 30-55% slower
        # than their neighbours
        "-XX:+UseTransparentHugePages",
        # keep every JIT compiler thread alive, so that their CPU time can
        # be taken out of the process's (Main.cpuNanos)
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.buffer.pageSize=8m", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={root / 'tmp'}",
        "-cp", classpath, "graft.perfbench.Main"]
        + [f"{k}={v}" for k, v in args.items()])


def load_check_oracle():
    """The engine's own DuckDB compare (`tools/check_oracle.py`) as a module."""
    spec = importlib.util.spec_from_file_location("check_oracle", CHECK_ORACLE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(input_dir, verify_dir, names):
    """name -> None when the output equals its DuckDB oracle, else the reason.

    Compares with the functions of `tools/check_oracle.py`: the same
    canonical form, the same dtype-exact column compare, the same
    unhashable-cell check. Unlike that script, a missing output, a missing
    oracle or an oracle that fails to run is a failure.

    The oracle's canonical result is cached under `.perfbench/oracle/`,
    keyed by the oracle SQL, the generator, `check_oracle.py` and the
    DuckDB version. A seed only permutes rows and the canonical result is
    sorted, so it is the same for every seed. The cache is there because
    the oracles are slow: at sf0.1 on 4 cores, DuckDB takes 9.4 s for
    `dedup_near`, 3.5 s for `dedup_simhash` and 9.6 s for
    `graph_random_walk_biased_stored`, a third of a whole run.
    """
    import duckdb
    import pandas as pd
    co = load_check_oracle()
    oracles = json.loads((verify_dir / "oracle_sql.json").read_text())
    cache = STATE / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    version = hashlib.sha256(
        Path(gen_data.__file__).read_bytes() + CHECK_ORACLE.read_bytes()
        + duckdb.__version__.encode()).hexdigest()
    con = None
    out = {}
    for n in names:
        d = verify_dir / n
        if not d.is_dir():
            out[n] = "no output"
            continue
        if n not in oracles:
            out[n] = "no oracle"
            continue
        files = sorted(d.glob("*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) \
            if files else pd.DataFrame()
        bad_cols = co.unhashable_cols(spark_df)
        if bad_cols:
            out[n] = f"unhashable output columns {bad_cols}"
            continue
        key = hashlib.sha256((oracles[n] + version).encode()).hexdigest()[:20]
        cached = cache / f"{n}-{key}.pkl"
        if cached.exists():
            b = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for t in co.TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
            try:
                b = co.canon(con.sql(oracles[n]).df())
            except Exception as e:
                out[n] = f"oracle SQL error: {e}"[:300]
                continue
            tmp = cached.with_suffix(f".{os.getpid()}.tmp")
            b.to_pickle(tmp)
            os.replace(tmp, cached)
        a = co.canon(spark_df)
        if list(a.columns) != list(b.columns):
            out[n] = f"schema spark={list(a.columns)} oracle={list(b.columns)}"
        elif len(a) != len(b):
            out[n] = f"rows spark={len(a)} oracle={len(b)}"
        else:
            bad = [f"{c}: {why}" for c in a.columns
                   for same, why in [co.col_equal(a[c], b[c])] if not same]
            out[n] = "; ".join(bad) if bad else None
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description="perfbench launcher")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated launcher still stops its JVM and removes its root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check_oracle.py"):
        if not (REPO / need).exists():
            fail(f"engine source not found: {need} (run from a checkout)")
    names = WORKLOADS[a.workload]
    classpath = build()

    runs = STATE / "runs"
    results = STATE / "results"
    runs.mkdir(parents=True, exist_ok=True)
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}"
    root = runs / tag
    lock = open(runs / f"{tag}.lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail(f"another benchmark process holds {root}", 3)
    try:
        shutil.rmtree(root, ignore_errors=True)
        (root / "tmp").mkdir(parents=True)
        out_json = root / "result.json"
        spans = results / f"{tag}-spans.jsonl"
        args = {"workload": a.workload, "entries": ",".join(names),
                "root": root, "input": root / "input", "seconds": a.seconds,
                "trace": a.trace, "out": out_json, "spans": spans,
                "verify": root / "verify", "ready": root / "input.ready"}
        with open(STATE / f"{tag}.log", "w") as log:
            args["start_ms"] = int(time.time() * 1000)
            p = subprocess.Popen(jvm_command(classpath, root, args),
                                 stdout=log, stderr=subprocess.STDOUT)
            try:
                # the input is written while the JVM starts up
                gen_data.write(str(root / "input"), a.seed)
                (root / "input.ready").touch()
                code = p.wait(timeout=RUN_TIMEOUT_S)
            except BaseException as e:
                p.kill()
                p.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log.name}")
                raise
        if code != 0 or not out_json.exists():
            fail(f"JVM exited with {code}, see {STATE / (tag + '.log')}")
        res = json.loads(out_json.read_text())
        failures = {n: f"threw: {e}" for n, e in res["failed"].items()}
        o0 = time.monotonic()
        for n, why in oracle_check(root / "input", root / "verify", names).items():
            if why and n not in failures:
                failures[n] = f"oracle: {why}"

        passes = res["traced_passes" if a.trace else "passes"]
        if a.trace:
            metrics = {m: {"value": res["trace"].get(m, 0.0), "unit": u}
                       for m, u in PER_LAYER}
            # the first pass is still warming up (C2 compiles through it),
            # so the traced passes are compared with the later ones
            plain = median(res["passes"]["wall_s"][1:])
            metrics["trace.overhead"] = {
                "value": median(passes["wall_s"]) / plain - 1.0, "unit": "ratio"}
        else:
            metrics = {
                "wall_s": {"value": median(passes["wall_s"]), "unit": "s"},
                "cpu_s": {"value": median(passes["cpu_s"]), "unit": "s"},
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "retained_heap_mb": {"value": median(passes["retained_heap_mb"]),
                                     "unit": "MB"},
                "disk_mb": {"value": median(passes["disk_mb"]), "unit": "MB"},
            }
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "entries": names, "passes": len(passes["wall_s"]),
                  "failed_frac": len(failures) / len(names),
                  "failures": failures, "metrics": metrics,
                  "oracle_s": time.monotonic() - o0, "run": res}
        (results / f"{tag}{'-trace' if a.trace else ''}.json").write_text(
            json.dumps(detail, indent=1))
        print(json.dumps({"correct": not failures, "attempted": len(names),
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        lock.close()


if __name__ == "__main__":
    main()
