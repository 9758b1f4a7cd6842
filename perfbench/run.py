#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (cached under `.bench_build/`, keyed by a hash
of the sources). Each run then

1. generates its inputs from the seed (tables and/or a text corpus),
2. starts `perfbench.Main` in a fresh JVM with its own temp dir, Spark
   local dir and working dir, so no state survives from another run,
3. checks every output: MapReduce lines against a sequential
   implementation here, query results against DuckDB running the
   program's own oracle SQL (`SparkEntry.oracleSql`),
4. prints a report and, as its last line, one JSON object with the
   end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).

It exits nonzero when an output is wrong or an op fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170          # a run must end within 180 s; keep a margin
BUILD_LIMIT_S = 800

# Per workload: table scale factor, corpus megabytes, and warm-up rounds
# (each runs every op once). JIT keeps speeding up the MapReduce passes for
# about six rounds. The query ops' cold round (plans, codegen, the durable
# spill) is 3-4x a warm one and the next rounds still get ~10% faster
# each; with one warm-up round instead of four, pass_s spread 0.16 across
# seeds instead of 0.09.
WORKLOADS = {
    "mr_text":   {"sf": None, "corpus_mb": 4.0, "warmup": 6},
    "iterative": {"sf": 0.001, "corpus_mb": None, "warmup": 4},
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ["src/main", "perfbench/src"]:
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(cache):
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(cache, "classpath.txt")
    key = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            k, cp = f.read().split("\n", 1)
        if k == key:
            return cp.strip()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export perfbench/Runtime/fullClasspath"],
                    cwd=HERE, env=env, limit=BUILD_LIMIT_S, capture=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(cache, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(key + "\n" + lines[-1].strip())
    return lines[-1].strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return v[7], sum(v[:8])


def run_bounded(cmd, cwd, env, limit, capture=False, stdout=None):
    """Run `cmd` in its own process group; kill the group at `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else stdout,
                         stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = p.communicate(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit:.0f} s and was killed")
    p.stdout = out
    return p


# ------------------------------------------------------------------ checks

def tokens(text):
    # Same tokenizer as Apps: runs of letters (the corpus alphabet is
    # letters, digits, spaces and ASCII punctuation, where [^\W\d_] is \p{L}).
    return re.findall(r"[^\W\d_]+", text)


def mr_sequential(paths):
    """mrsequential.go for wc and indexer: map every file, sort, reduce.
    Returns the merged sorted output lines per app."""
    counts, docs = {}, {}
    for p in paths:
        with open(p, encoding="utf-8") as f:
            words = tokens(f.read())
        name = os.path.basename(p)
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        for w in set(words):
            docs.setdefault(w, set()).add(name)
    wc = [f"{w} {counts[w]}" for w in sorted(counts)]
    ix = [f"{w} {len(docs[w])} {','.join(sorted(docs[w]))}" for w in sorted(docs)]
    return {"wc": wc, "indexer": ix}


def digest(lines):
    h = hashlib.sha256()
    for l in lines:
        h.update(l.encode("utf-8") + b"\n")
    return h.hexdigest()


def compare(got, want):
    """check_oracle.py's rules: columns sorted by name, same row count, every
    column equal as strings in result order. Returns an error or None."""
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    bad = [c for c in got.columns
           if not (got[c].astype(str).values == want[c].astype(str).values).all()]
    return f"values differ in {bad}" if bad else None


def oracle_check(tables_dir, out_dir, names):
    """Compares each query's warm-up and final output with DuckDB running its
    oracle SQL. Returns {"<name> <pass> output": error or None}."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    verdict = {}
    for name in names:
        t = time.time()
        try:
            want = con.execute(oracle[name]).fetchdf() if name in oracle else None
        except Exception as e:  # noqa: BLE001 - any engine error is a failed check
            want, why = None, f"oracle error: {e}"
        else:
            why = None if want is not None else "no oracle SQL"
        for label in ("warmup", "final"):
            d = os.path.join(out_dir, "results", label, name)
            files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) \
                if os.path.isdir(d) else []
            key = f"{name} {label} output"
            if want is None:
                verdict[key] = why
            elif not files:
                verdict[key] = "no result parquet"
            else:
                try:
                    got = con.execute(f"SELECT * FROM '{d}/{files[0]}'").fetchdf()
                except Exception as e:  # noqa: BLE001 - an unreadable result fails the check
                    verdict[key] = f"unreadable result: {e}"
                else:
                    verdict[key] = compare(got, want)
        log(f"oracle {name}: {time.time() - t:.1f} s")
    return verdict


# ------------------------------------------------------------------ metrics

def end_to_end(res):
    timed = [o for o in res["ops"] if o["pass"] > 0]
    passes = [p["wall_s"] for p in res["passes"]]
    pass_s = statistics.median(passes)
    input_mb = res["input_bytes"] / 1e6 / len(passes)
    log(f"{len(passes)} timed passes, {len(timed)} op samples, "
        f"{input_mb:.2f} MB input read per pass")
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(o["wall_s"] for o in timed), "s"),
        "input_mb_per_s": (input_mb / pass_s, "MB/s"),
        "cpu_s": (res["cpu_s"] / len(passes), "s"),
    }


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # Self-test knobs: corpus size, and a deliberately corrupted output.
    ap.add_argument("--corpus-mb", type=float)
    ap.add_argument("--corrupt", choices=["mr", "query"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources (build.sbt, src/main/scala/graft) beside perfbench/")
    # CARGO_TARGET_DIR, when set, names the directory for build outputs.
    cache = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classpath = build(cache)
    t_start = time.time()

    spec = dict(WORKLOADS[a.workload])
    if a.corpus_mb is not None and spec["corpus_mb"] is not None:
        spec["corpus_mb"] = a.corpus_mb

    run_dir = os.path.join(cache, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tables_dir, corpus_dir = os.path.join(run_dir, "tables"), os.path.join(run_dir, "corpus")
    out_dir, tmp_dir = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
    for d in (tables_dir, corpus_dir, out_dir, tmp_dir):
        os.makedirs(d)
    try:
        expected = {}
        if spec["sf"] is not None:
            gen.tables(tables_dir, spec["sf"], a.seed)
        if spec["corpus_mb"] is not None:
            paths = gen.corpus(corpus_dir, spec["corpus_mb"], a.seed)
            expected = {k: digest(v) for k, v in mr_sequential(paths).items()}

        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
               + ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp_dir}", "-Dspark.ui.enabled=false",
                  "-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--tables", tables_dir, "--corpus", corpus_dir,
                  "--out", out_dir, "--warmup", str(spec["warmup"]),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--seed", str(a.seed)]
               + (["--corrupt", a.corrupt] if a.corrupt else []))
        log_path = os.path.join(run_dir, "jvm.log")
        t_jvm, ticks0 = time.time(), cpu_ticks()
        with open(log_path, "w") as lf:
            p = run_bounded(cmd, cwd=out_dir, env=dict(os.environ), stdout=lf,
                            limit=RUN_LIMIT_S - (time.time() - t_start))
        ticks1 = cpu_ticks()
        # Share of CPU time the host gave to other guests while the JVM ran:
        # wall-clock figures from a run with a high share are slow for
        # reasons outside the program.
        steal_pct = (100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
                     if ticks0 and ticks1 else 0.0)
        result_path = os.path.join(out_dir, "result.json")
        if p.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail(f"harness JVM exited with {p.returncode}")
        with open(result_path) as f:
            res = json.load(f)

        # ---- output checks
        bad = {}                       # op execution -> reason
        for i, o in enumerate(res["ops"]):
            key = f"{o['op']} #{i} (pass {o['pass']})"
            if "error" in o:
                bad[key] = o["error"]
            elif o["op"].startswith("mr_"):
                app = "indexer" if o["op"] == "mr_index" else "wc"
                if o["digest"] != expected[app]:
                    bad[key] = "merged output differs from the sequential run"
                elif "files" in o and o["files"] != 10:
                    bad[key] = f"{o['files']} mr-out-* files, want 10"
        queries = sorted({o["op"] for o in res["ops"] if not o["op"].startswith("mr_")})
        t_check = time.time()
        if queries:
            bad.update((k, why) for k, why in oracle_check(tables_dir, out_dir, queries).items()
                       if why)
        for k, why in sorted(bad.items()):
            log(f"FAILED {k}: {why}")
        log(f"run {time.time() - t_start:.1f} s: inputs {t_jvm - t_start:.1f} s, "
            f"jvm {t_check - t_jvm:.1f} s, output check {time.time() - t_check:.1f} s; "
            f"host steal {steal_pct:.1f}% of CPU time")
        attempted = len(res["ops"])
        correct = not bad

        if a.trace:
            with open(os.path.join(out_dir, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f]
            metrics, report = layers.per_layer(res, spans)
            metrics["host.steal_pct"] = (steal_pct, "%")
            print(report)
            os.makedirs(os.path.join(cache, "reports"), exist_ok=True)
            with open(os.path.join(cache, "reports", f"{a.workload}-seed{a.seed}.txt"), "w") as f:
                f.write(report + "\n")
        else:
            metrics = end_to_end(res)
        for k, (v, u) in metrics.items():
            print(f"{a.workload:<11} {k:<28} {v:14.4f} {u}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(bad),
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
