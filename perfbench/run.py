#!/usr/bin/env python3
"""Superstore benchmark: one seeded workload, measured, checked, reported.

    python3 perfbench/run.py --workload superstore_day --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; every run then
makes its inputs (the Superstore extracts and slicer stream generated from
--seed, or the fixed corpus in perfbench/corpus), launches one JVM
(Spark local[n], n = min(4, nproc), one client), measures for --seconds,
checks every output (against the generator's ground truth, or against each
registry query's DuckDB oracle), and prints human-readable metric lines
followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (spans around each call into a layer plus Spark listener
counts; spans are written to .bench_build/traces/).
"""
import argparse
import hashlib
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_superstore as gen  # noqa: E402

WORKLOADS = ("superstore_day", "operator_mix")
ORDERS = 800
CORPUS = os.path.join(HERE, "corpus")
# one registry query per operator family, run in this order: in a cold
# session the first query to use a piece of shared machinery (parquet scan
# and write, shuffle, windows, UDFs) pays its warm-up, so a seeded order
# would move seconds between queries from run to run
MIX = ("q01_pricing_agg", "q05_star_join", "q13_rank_topn", "q35_minhash_lsh",
       "q68_ngram_jaccard_capped", "q73_dedup_clusters", "q88_corpus_pipeline",
       "q108_prefix_filter_join", "q260_ktruss_capped", "q295_golden_record",
       "q351_ivf_index_serve")
STREAM_LEN = 20000
SETUP_REPS = 3
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found: "
            "run from the root of a full checkout")
    cp_file = os.path.join(HERE, "target", "runtime.classpath")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's own state and temporary files inside the checkout too
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD}/sbt-global", f"-Djava.io.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "writeClasspath"]
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                env=dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
                                         JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                                timeout=max(60, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            die("build timed out")
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (see {BUILD}/build.log)")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as g:
        return g.read().strip()


# ------------------------------------------------------------- workloads

def timed_setup(fn):
    """Run a set-up step SETUP_REPS times; (median seconds, last result)."""
    times, res = [], None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        res = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), res


def prepare_superstore(work, seed):
    def make():
        return gen.generate(seed, ORDERS)
    gen_s, (d1, d2, truth, counts) = timed_setup(make)
    with open(os.path.join(work, "day1.csv"), "wb") as f:
        f.write(d1)
    with open(os.path.join(work, "day2.csv"), "wb") as f:
        f.write(d2)
    with open(os.path.join(work, "stream.tsv"), "w") as f:
        for q in gen.slicer_stream(seed, STREAM_LEN):
            f.write(gen.stream_line(q) + "\n")
    return gen_s, truth, counts


def prepare_mix(work):
    """Copy the corpus into the run directory, and list the queries. The
    inputs do not depend on the seed: the corpus is fixed, and so is the
    order (see MIX)."""
    def copy():
        dst = os.path.join(work, "corpus")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(CORPUS, dst)
    copy_s, _ = timed_setup(copy)
    with open(os.path.join(work, "mix.txt"), "w") as f:
        f.write("\n".join(MIX) + "\n")
    return copy_s


def oracle_answer(con, sql, corpus_digest, canon):
    """(digest, row count) of an oracle query's canonical result. The corpus
    is fixed, so the answer is cached per (oracle SQL, corpus) in the
    checkout's build directory and computed once per checkout."""
    key = hashlib.sha256((corpus_digest + "\0" + sql).encode()).hexdigest()
    path = os.path.join(BUILD, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    digest, rows = canon(con.sql(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([digest, len(rows)], f)
    return digest, len(rows)


def check_mix(work, passes):
    """Each query's output of each pass against its DuckDB oracle, both
    canonicalized as the repository's oracle check does."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    corpus = os.path.join(work, "corpus")
    h = hashlib.sha256()
    for fn in sorted(os.listdir(corpus)):
        if fn.endswith(".parquet"):
            with open(os.path.join(corpus, fn), "rb") as f:
                h.update(fn.encode() + b"\0" + f.read())
            con.sql(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, fn)}')")
    failed, notes = 0, []
    for name in MIX:
        if name not in oracle:
            failed += passes
            notes.append(f"{name}: no oracle SQL")
            continue
        want = oracle_answer(con, oracle[name], h.hexdigest(), canon)
        for p in range(passes):
            out = os.path.join(work, "out", str(p), name)
            try:
                got = canon(con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')").df())
            except Exception as e:  # no output: the query failed in the JVM
                got = (f"unreadable: {str(e)[:120]}", [])
            if got[0] != want[0]:
                failed += 1
                notes.append(f"{name} pass {p}: {len(got[1])} rows vs oracle "
                             f"{want[1]}, digest {got[0]} vs {want[0]}")
    con.close()
    return failed, notes


def compare(prefix, got, want, bad):
    """Recursively compare a check object with the truth; collect diffs."""
    if isinstance(want, dict):
        for k, v in want.items():
            if k == "scd2_changed":
                continue
            compare(f"{prefix}.{k}", (got or {}).get(k) if isinstance(got, dict) else None,
                    v, bad)
    elif str(got) != str(want):
        bad.append(f"{prefix}: got {got} want {want}")


def check_etl(res, truth, counts):
    want = truth.etl(*counts)
    failed, notes = 0, []
    for c in res["checks"]:
        for day in ("day1", "day2"):
            bad = []
            compare(day, (c or {}).get(day), want[day], bad)
            if bad:
                failed += 1
                notes.extend(bad[:3])
    return failed, notes


def check_dashboard(work, truth):
    path = os.path.join(work, "answers.tsv")
    if not os.path.exists(path):   # the day-1 load failed before the session
        block = sum(gen.BLOCK.values())
        return block, ["no dashboard answers"], block
    memo, failed, notes, n = {}, 0, [], 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            kind, r, s, y, nrows, dig = line.rstrip("\n").split("\t")
            n += 1
            key = (kind, r, s, y)
            if key not in memo:
                ordered, rows = truth.answer(
                    kind, None if r == "*" else r.split(","),
                    None if s == "*" else s.split(","),
                    None if y == "*" else int(y))
                memo[key] = gen.digest(rows, ordered)
            exp_n, exp_d = memo[key]
            if int(nrows) != exp_n or dig != exp_d:
                failed += 1
                if len(notes) < 3:
                    notes.append(f"{key}: rows {nrows} vs {exp_n}, digest {dig} vs {exp_d}")
    return failed, notes, n


# ------------------------------------------------------------------- run

def launch(cp, workload, work, seconds, trace, deadline):
    cores = max(1, min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--block", str(sum(gen.BLOCK.values()))]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=tmp))
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die("benchmark JVM timed out", 3)
        finally:   # on a timeout, or when this process is stopped
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        die(f"benchmark JVM failed (exit {rc}):\n{tail}", 3)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(xs):
    """The median; 0 for no samples (a run whose work failed, reported as
    incorrect)."""
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return xs[i]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # stopped from outside: unwind, so that the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    bench = spec()
    cp = build(t_start + 850)
    deadline = time.time() + 170

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        human = []
        if a.workload == "operator_mix":
            gen_s = prepare_mix(work)
        else:
            gen_s, truth, counts = prepare_superstore(work, a.seed)
        res = launch(cp, a.workload, work, a.seconds, a.trace, deadline)

        notes = []
        t_check = time.perf_counter()
        q = res["steps"].get("query_ms", [])
        if a.workload == "superstore_day":
            failed, notes = check_etl(res, truth, counts)
            d_failed, d_notes, d_attempted = check_dashboard(work, truth)
            failed, notes = failed + d_failed, notes + d_notes
            attempted = int(res["attempted"]) + d_attempted
            load = res["steps"]["load_ms"][0] / 1000
            refresh = res["steps"]["refresh_ms"][0] / 1000
            lines = counts[0] + counts[1]
            human += [("load_s", load, "s"), ("refresh_s", refresh, "s"),
                      ("etl_rows_per_s", lines / (load + refresh) if load + refresh
                       else 0.0, "rows/s")]
            log(f"input: day-1 {counts[0]} lines, day-2 {counts[1]} lines")
            human += [("query_p50_ms", median(q), "ms")]
            if len(q) >= 20:   # the highest percentile with >= 10 samples beyond it
                tail = int(100 * (len(q) - 10) / len(q))
                human += [(f"query_p{tail}_ms", quantile(q, tail / 100), "ms")]
            human += [("queries_per_s", len(q) / (sum(q) / 1000) if q else 0.0, "1/s")]
            log(f"{len(q)} dashboard queries measured (one closed-loop client), "
                f"{res['info'].get('distinct_slicers')} distinct slicers"
                + ("" if len(q) >= 20 else "; too few for a tail percentile"))
        else:
            passes = int(res["info"]["passes"])
            attempted = int(res["attempted"])
            failed, notes = check_mix(work, passes)
            human += [("mix_s", median(res["batch_ms"]) / 1000, "s")]
            log(f"{passes} pass(es) of {len(MIX)} registry queries on the "
                f"fixed corpus")
        attempted = max(1, attempted)
        log(f"outputs checked in {time.perf_counter() - t_check:.1f} s")
        for n in notes:
            log(f"MISMATCH {n}")
        for e in res["errors"]:
            log(f"ERROR {e}")

        log("setup: inputs %.2f s (median of %d), session %.2f s"
            % (gen_s, SETUP_REPS, res["session_s"]))
        e2e = {"setup_s": gen_s + res["session_s"],
               "batch_s": median(res["batch_ms"]) / 1000,
               "query_p50_ms": median(q)}
        human += [("failure_ratio", failed / attempted, "ratio")]
        for name, value, unit in human:
            print(f"{name} {value:.6g} {unit}")
        if a.trace:
            layers = dict(res["layers"])
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            src = os.path.join(work, "trace.jsonl")
            if os.path.exists(src):
                shutil.copy(src, os.path.join(
                    BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0) or 0.0),
                                   "unit": m["unit"]} for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        for k, v in metrics.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
