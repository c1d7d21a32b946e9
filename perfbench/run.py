#!/usr/bin/env python3
"""Benchmark for the graft library: builds it from this checkout, runs one
cold pipeline workload in a fresh JVM, checks the outputs, and prints the
metrics.

    python3 perfbench/run.py --workload screen --seed 1 --seconds 10 --trace 0

Run from the root of a checkout; everything it writes goes under
`.bench_build/` there. The last line of stdout is one JSON object with
the keys correct, attempted, failed and metrics: the end-to-end metrics
with --trace 0, the per-layer ones with --trace 1. The exit code is not 0
when a correctness check fails or the workload did not run.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("screen", "corpus")
SETUPS = 2          # cold session starts per run, each in a new JVM; setup_s is their median
DEADLINE_S = 170    # every JVM of one command together, build excluded
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")   # as the library's own build runs Spark
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
MB = 1024.0 * 1024.0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build
def source_digest(root):
    h = hashlib.sha256()
    files = []
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        if os.path.isfile(p):
            files.append(p)
        for d, _, fs in os.walk(p):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile the library and the harness once per source digest; returns
    the runtime classpath."""
    stamp = os.path.join(work, f"classpath-{source_digest(root)}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    cp = lines[-1]
    write_references(root, work, cp)
    for old in glob.glob(os.path.join(work, "classpath-*.txt")):
        os.remove(old)
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def java(cp, out, args, deadline):
    """Run graft.perfbench.Main in a new JVM whose java.io.tmpdir is new
    too, with the JVM options of the library's own build; returns the
    exit code. Its output goes to `<out>.log`."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main", "--out", out,
            "--cpus", str(os.cpu_count() or 1)] + args)
    log_path = out + ".log"
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"a JVM ran past the deadline; see {log_path}", 1)
    return rc


def cold_setup_s(cp, out, deadline):
    """One cold session start in a JVM that does nothing else."""
    path = out + "-ns.txt"
    if java(cp, out, ["--setup-only", path], deadline) != 0:
        fail(f"a set-up JVM failed; see {out}.log", 1)
    with open(path) as f:
        return int(f.read()) / 1e9


def run_jvm(cp, workload, data, out, seed, trace, deadline):
    """One workload run in its own JVM; returns its result.json."""
    rc = java(cp, out, ["--workload", workload, "--data", data, "--seed", str(seed),
                        "--trace", str(trace)], deadline)
    res = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res):
        fail(f"the {workload} JVM exited with {rc}; see {out}.log", 1)
    with open(res) as f:
        return json.load(f)


# --------------------------------------------------------------- checking
def load_check(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_on(data):
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def reference_key(sql):
    """Names DuckDB's answer to `sql` on the input tables. Every seed has
    the same rows (only their order changes, and the canonical form sorts
    rows), so the key is the SQL text plus the tables' bytes."""
    h = hashlib.sha256(sql.encode())
    for t in gen.TABLES:
        with open(os.path.join(gen.SRC, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def answer_hash(canonical):
    """sha256 of a canonical answer (columns, rows, dtypes)."""
    return hashlib.sha256(json.dumps(canonical, sort_keys=True).encode()).hexdigest()


def load_references(work):
    """Known answer hashes: the committed ones (perfbench/oracle_hashes.json)
    plus any this checkout computed because an oracle or the generator
    changed since they were committed."""
    refs = {}
    for path in (os.path.join(HERE, "oracle_hashes.json"),
                 os.path.join(work, "oracle_hashes.json")):
        if os.path.exists(path):
            with open(path) as f:
                refs.update(json.load(f))
    return refs


def write_references(root, work, cp):
    """Compute the answer hash of every chain op's oracle whose key is not
    known yet. The corpus oracles take minutes in DuckDB, longer than a
    run, so this happens with the build, never inside a timed run."""
    sqls = os.path.join(work, "oracle-sql.json")
    subprocess.run(["java", "-cp", cp, "graft.perfbench.Main", "--oracles", sqls],
                   check=True, stdin=subprocess.DEVNULL, capture_output=True)
    with open(sqls) as f:
        wanted = [sql for ops in json.load(f).values() for sql in ops.values()]
    refs = load_references(work)
    missing = [sql for sql in wanted if reference_key(sql) not in refs]
    if not missing:
        return
    canon = load_check(root).canon
    con = duckdb_on(gen.generate(os.path.join(work, "data", "s0"), 0))
    local = os.path.join(work, "oracle_hashes.json")
    computed = json.load(open(local)) if os.path.exists(local) else {}
    for sql in missing:
        computed[reference_key(sql)] = answer_hash(
            json.loads(json.dumps(canon(con.sql(sql)))))
    with open(local, "w") as f:
        json.dump(computed, f, indent=1, sort_keys=True)


def oracle_failures(root, work, data, out, oracle):
    """Hash-compare each oracle-backed output with DuckDB's answer on the
    same content, both canonicalized by scripts/check.py's `canon`."""
    canon = load_check(root).canon
    con = duckdb_on(data)
    refs = load_references(work)
    bad = []
    for name, sql in oracle.items():
        got = json.loads(json.dumps(canon(
            con.sql(f"SELECT * FROM '{out}/outputs/{name}/*.parquet'"))))
        want = refs.get(reference_key(sql))
        if want is None:
            bad.append(f"{name}: no DuckDB answer for this oracle")
        elif answer_hash(got) != want:
            bad.append(f"{name}: differs from the DuckDB oracle "
                       f"({len(got[1])} rows here)")
    return bad


def invariant_failures(out, outputs):
    """Checks on the trained-classifier outputs, which have no oracle:
    accuracy and F1 lie in [0, 1]; WSS@95 is (N - k)/N - 0.05 for the k
    documents screened to reach 95 % recall, so it lies in [-0.05, 0.95]
    (below 0 when a classifier ranks no better than chance)."""
    import duckdb
    con = duckdb.connect()
    bad = []

    def frame(short):
        hit = [n for n in outputs if n.split("_")[0] == short]
        return con.sql(f"SELECT * FROM '{out}/outputs/{hit[0]}/*.parquet'").df() \
            if hit else None

    q79 = frame("q79")
    if q79 is not None and (len(q79) == 0 or not (
            q79.accuracy.between(0, 1) & q79.f1.between(0, 1) &
            (q79.n_test > 0)).all()):
        bad.append("q79_model_compare_tfidf: accuracy or F1 outside [0, 1]")
    q81 = frame("q81")
    if q81 is not None and (len(q81) == 0 or not (
            q81.wss95.between(-0.05, 0.95) & (q81.n_pos <= q81.n_docs) &
            (q81.k_at_95 <= q81.n_docs) &
            ((q81.wss95 - ((q81.n_docs - q81.k_at_95) / q81.n_docs - 0.05)).abs()
             < 1e-4)).all()):
        bad.append("q81_wss95_trained: WSS@95 off its definition or range")
    return bad


def check(root, work, data, out, r):
    """Every failed check of one run, the calls the pass made, and how
    many of them failed (a call fails at most once)."""
    bad = (list(r["failures"]) + oracle_failures(root, work, data, out, r["oracle"]) +
           invariant_failures(out, r["outputs"]))
    calls = {s["name"] for s in spans_of(r) if s["parent"] == the_pass(r)["id"]}
    failed = len({b.split(": ")[0] for b in bad} | ({"pass"} if not calls else set()))
    return bad, max(1, len(calls)), min(max(1, len(calls)), failed)


# ---------------------------------------------------------------- metrics
def spans_of(r):
    return [dict(id=s[0], name=s[1], layer=s[2], start=s[3], end=s[4],
                 parent=s[5]) for s in r["spans"]]


def the_pass(r):
    return next(s for s in spans_of(r) if s["name"] == "pass")


def pass_seconds(r):
    return (r["pass"]["end_ns"] - r["pass"]["start_ns"]) / 1e9


def steal_pct(p):
    return 100.0 * p["steal_ticks"] / p["host_ticks"] if p["host_ticks"] else 0.0


def end_to_end(r, setups, docs):
    pipeline = pass_seconds(r)
    return {
        "setup_s": (stats.median(setups)["value"], "s"),
        "pipeline_s": (pipeline, "s"),
        "pipeline_cpu_s": (r["pass"]["cpu_ns"] / 1e9, "s"),
        "docs_per_s": (docs / pipeline, "1/s"),
        "storage_peak_mb": (r["storage_peak_bytes"] / MB, "MB"),
    }


BUSY = ["TextOps", "MLOps", "EvalOps", "SimOps", "Relational", "DedupOps",
        "GraphOps", "BpeOps", "PipelineOps", "StreamOps"]
ARTIFACT_READS = ("q177",)


def per_layer(r, untraced_s):
    """Per-layer metrics of the pass of a traced run. Busy shares are of
    the pass's wall time; the rest are totals over the pass. A layer the
    workload does not call reads 0. The tracing overhead is that pass
    minus `untraced_s`, the median untraced pass of the same build."""
    index = stats.module_index(r["modules"])
    p = the_pass(r)
    wall = p["end"] - p["start"]
    calls = [s for s in spans_of(r) if s["parent"] == p["id"]]
    busy = {}
    for s in calls:
        busy[s["layer"]] = busy.get(s["layer"], 0) + s["end"] - s["start"]
    by_layer = {}
    for g, v in r["groups"].items():
        acc = by_layer.setdefault(stats.layer_of(g, index), [0] * len(v))
        for i, x in enumerate(v):
            acc[i] += x
    tot = [sum(v[i] for v in r["groups"].values()) for i in range(9)]
    jobs = [(a, b) for _, a, b in r["jobs"]]
    m = {f"{lay}.busy_pct": (100.0 * busy.get(lay, 0) / wall, "%") for lay in BUSY}
    m["MLOps.jobs"] = (by_layer.get("MLOps", [0])[0], "count")
    m["BpeOps.jobs"] = (by_layer.get("BpeOps", [0])[0], "count")
    st = r["stream"]
    batches = [n / 1e9 for n in st["batch_ns"]]
    m["StreamOps.batch_s"] = (stats.median(batches)["value"] if batches else 0.0, "s")
    m["StreamOps.jobs_per_batch"] = (
        by_layer.get("StreamOps", [0])[0] / len(batches) if batches else 0.0, "count")
    m["StreamOps.admit_ratio"] = (
        st["served"] / st["arrived"] if st["arrived"] else 0.0, "ratio")
    m["memo.hit_s"] = (busy.get("memo", 0) / 1e9, "s")
    m["sources.input_mb"] = (tot[5] / MB, "MB")
    m["artifact.write_mb"] = (r["artifacts"]["bytes"] / MB, "MB")
    m["artifact.files"] = (r["artifacts"]["files"], "count")
    reads = sum(s["end"] - s["start"] for s in calls
                if s["name"].split("_")[0] in ARTIFACT_READS)
    m["artifact.read_pct"] = (100.0 * reads / wall, "%")
    m["spark.jobs"] = (tot[0], "count")
    m["spark.tasks"] = (tot[1], "count")
    m["spark.executor_cpu_s"] = (tot[2] / 1e9, "s")
    m["spark.gc_s"] = (tot[4] / 1e3, "s")
    m["spark.shuffle_write_mb"] = (tot[6] / MB, "MB")
    m["spark.spill_mb"] = (tot[8] / MB, "MB")
    m["spark.cpu_util"] = (tot[2] / (wall * r["cpus"]), "ratio")
    m["spark.driver_s"] = (stats.driver_time(p["start"], p["end"], jobs) / 1e9, "s")
    m["trace.overhead_s"] = (pass_seconds(r) - untraced_s, "s")
    covered = stats.union_length([(c["start"], c["end"]) for c in calls])
    m["trace.gap_s"] = ((wall - covered) / 1e9, "s")
    return m


def write_trace(path, run_id, r):
    """Every span with its self time, for reading where a pass went."""
    spans = spans_of(r)
    self_t = stats.self_times(spans)
    with open(path, "w") as f:
        json.dump({"run_id": run_id, "spans": [
            dict(s, self=self_t[s["id"]], run_id=run_id) for s in spans]}, f)


def report(workload, r, setups, docs, attempted, failed):
    """Every end-to-end metric of the workload by name and unit, with the
    sample count behind it."""
    secs = pass_seconds(r)
    setup = stats.median(setups)
    lines = [("setup_s", setup["value"], "s",
              f"median of n={setup['n']} cold session starts, each in a new JVM"),
             ("pipeline_s", secs, "s", "n=1 cold pass: new JVM, session and memos"),
             ("pipeline_cpu_s", r["pass"]["cpu_ns"] / 1e9, "s",
              "process CPU time of that pass"),
             ("docs_per_s", docs / secs, "1/s", f"{docs} documents"),
             ("storage_peak_mb", r["storage_peak_bytes"] / MB, "MB", ""),
             ("host_steal_pct", steal_pct(r["pass"]), "%",
              "host CPU taken by other tenants during the pass"),
             ("error_rate", failed / attempted, "ratio",
              f"{failed} of {attempted} operations")]
    for name, v, unit, note in lines:
        print(f"{workload} {name} = {v:.6g} {unit}" + (f"  ({note})" if note else ""))


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # one cold pass is measured whatever --seconds says: a second pass in
    # the same JVM would no longer be cold
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft", "scripts/check.py", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} is missing: run from the root of a graft checkout")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    deadline = time.time() + DEADLINE_S

    data = gen.generate(os.path.join(work, "data", f"s{a.seed}"), a.seed)
    docs = gen.rows("documents")
    runs = os.path.join(work, "runs")
    # untraced pass times of this build, the baseline of the tracing
    # overhead; a traced command runs an untraced JVM first only when
    # this build has none yet
    history = os.path.join(work, f"untraced-{a.workload}-{source_digest(root)}.json")
    seen = json.load(open(history)) if os.path.exists(history) else []
    results = []
    # the other cold session starts that setup_s needs besides the run's own
    setups = [] if a.trace else [cold_setup_s(cp, os.path.join(runs, f"setup{i}"), deadline)
                                 for i in range(1, SETUPS)]
    if not a.trace or not seen:
        r0 = run_jvm(cp, a.workload, data, os.path.join(runs, f"{a.workload}-t0"),
                     a.seed, 0, deadline)
        results.append(("t0", r0))
        setups.append(r0["setup_ns"] / 1e9)
        seen.append(pass_seconds(r0))
        with open(history, "w") as f:
            json.dump(seen, f)
    if a.trace:
        r1 = run_jvm(cp, a.workload, data, os.path.join(runs, f"{a.workload}-t1"),
                     a.seed, 1, deadline)
        results.append(("t1", r1))
    bad, attempted, failed = [], 0, 0
    for tag, r in results:
        b, n, f = check(root, work, data, os.path.join(runs, f"{a.workload}-{tag}"), r)
        bad += b
        attempted += n
        failed += f
    for b in bad:
        print(f"CHECK FAILED {b}")
    report(a.workload, results[0][1], setups or [r1["setup_ns"] / 1e9],
           docs, attempted, failed)
    if a.trace:
        run_id = f"{a.workload}-s{a.seed}"
        write_trace(os.path.join(work, f"trace-{run_id}.json"), run_id, r1)
        metrics = per_layer(r1, stats.median(seen)["value"])
    else:
        metrics = end_to_end(r0, setups, docs)
    ok = not bad and failed == 0
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
