#!/usr/bin/env python3
"""Run one benchmark workload against the graft library and report it.

    python3 perfbench/run.py --workload ingest|serve|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (offline) and caches the launch spec
under perfbench/target; later runs start the measured JVM directly on
that classpath with the library build's JVM options, so sbt's start-up
never lands in a measurement. Inputs are generated from --seed under
perfbench/.work (see gen.py). The command checks the program's outputs
and prints every metric by name and unit; the last line of stdout is a
JSON object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Exits non-zero if a check fails
or the run cannot be made.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

START = time.monotonic()
# Time a run may take after the build; a run that builds may take
# longer by the build's time.
DEADLINE_S = 170
WORK = os.path.join(HERE, ".work")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(base, "*.sbt")) + glob.glob(os.path.join(base, "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def heap():
    """The library build's heap rule: half the memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def build():
    """Compile the library and the benchmark (cached by source hash);
    return (classpath, java options)."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        die("the library's sources (build.sbt, src/main/scala/graft) are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed")
    spec = os.path.join(HERE, "target", "launch.json")
    stamp = os.path.join(HERE, "target", "launch.stamp")
    digest = source_hash()
    fresh = (os.path.exists(spec) and os.path.exists(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=heap())
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("perfbench: building the library and the benchmark with sbt")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=800)
        if r.returncode != 0 or not os.path.exists(spec):
            die("build failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
    with open(spec) as fh:
        s = json.load(fh)
    return s["classpath"], s["java_options"]


def run_jvm(args, classpath, java_options, input_dir, run_dir, built):
    out = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + java_options
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", args.workload, "--input", input_dir, "--work", run_dir,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", out, "--cpus", str(cpus())])
    budget = DEADLINE_S - (time.monotonic() - built) - 8
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the measured JVM ran out of time", 1)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        die(f"the measured JVM failed (exit {p.returncode})", 1)
    with open(out) as fh:
        return json.load(fh)


# --- output checks made outside the JVM ---------------------------------

def check_ingest(res, exp, failures):
    """The last drain's store holds exactly the (doc, chunk) keys the
    generator's own lengths and noise flags give, once each."""
    import pyarrow.dataset as ds
    ids = ds.dataset(res["info"]["last_store"], format="parquet", partitioning="hive").to_table(columns=["id"])
    got = ids.column("id").to_pylist()
    want = exp["chunk_ids"]
    if len(got) != len(set(got)):
        failures.append(f"ingest: {len(got) - len(set(got))} duplicate store keys")
    if set(got) != set(want):
        failures.append(f"ingest: store keys differ from the generator's "
                        f"({len(set(got) - set(want))} extra, {len(set(want) - set(got))} missing)")
    return 1


def _shingles(text, k):
    w = text.strip(" ").split()
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def check_curate(res, failures):
    """Every reported pair's 3-gram Jaccard (over the shingle sets capped
    at maxShingleDf = 64 per contact, as the library defines it) is at
    least 0.5; the curated set is the dedup set minus each pair's second
    id; the quantiles equal DuckDB's over the surviving rows."""
    import duckdb
    import pyarrow.parquet as pq
    out = res["info"]["out"]
    dd = pq.read_table(os.path.join(out, "dedup"), columns=["doc_id", "source", "text"]).to_pydict()
    pairs = pq.read_table(os.path.join(out, "pairs")).to_pydict()
    cur = pq.read_table(os.path.join(out, "curated"), columns=["doc_id"]).to_pydict()
    sh = {d: _shingles(t, 3) for d, t in zip(dd["doc_id"], dd["text"])}
    grp = dict(zip(dd["doc_id"], dd["source"]))
    dfs = {}
    for d, s in sh.items():
        for x in s:
            dfs[(grp[d], x)] = dfs.get((grp[d], x), 0) + 1
    bad = 0
    for g, a, b in zip(pairs["grp"], pairs["id_a"], pairs["id_b"]):
        if not (a < b and grp.get(a) == g and grp.get(b) == g):
            bad += 1
            continue
        sa = {x for x in sh[a] if dfs[(g, x)] <= 64}
        sb = {x for x in sh[b] if dfs[(g, x)] <= 64}
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        if union == 0 or round(inter / union, 6) < 0.5:
            bad += 1
    if bad:
        failures.append(f"curate: {bad} of {len(pairs['id_a'])} reported pairs are not near-duplicates")
    want = set(dd["doc_id"]) - set(pairs["id_b"])
    if set(cur["doc_id"]) != want or len(cur["doc_id"]) != len(want):
        failures.append("curate: the curated set is not the dedup set minus the dropped ids")
    con = duckdb.connect()
    q = con.execute(
        "SELECT source, quantile_cont(tokens, 0.5), quantile_cont(tokens, 0.9), "
        "quantile_cont(tokens, 0.99) FROM read_parquet(?) GROUP BY source ORDER BY source",
        [os.path.join(out, "curated", "*.parquet")]).fetchall()
    got = res["info"]["quantiles"]
    ok = len(q) == len(got) and all(
        int(g[0]) == e[0] and all(abs(g[i] - round(e[i], 6)) <= 1e-6 for i in (1, 2, 3))
        for g, e in zip(got, q))
    if not ok:
        failures.append("curate: quantiles differ from DuckDB's over the curated rows")
    return 3


# --- report ---------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        die("BENCHMARK.json is not at the root of the checkout")
    with open(bench_file) as fh:
        bench = json.load(fh)
    classpath, java_options = build()
    built = time.monotonic()

    shutil.rmtree(WORK, ignore_errors=True)
    input_dir = os.path.join(WORK, "input")
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir)
    log(f"perfbench: {time.monotonic() - START:.1f} s built")
    man, exp = gen.generate(args.workload, args.seed, input_dir)
    log(f"perfbench: {time.monotonic() - START:.1f} s inputs generated")
    res = run_jvm(args, classpath, java_options, input_dir, run_dir, built)
    log(f"perfbench: {time.monotonic() - START:.1f} s measured JVM exited")

    failures = list(res["failures"])
    attempted = res["attempted"]
    if res["failed"] == 0:
        if args.workload == "ingest":
            attempted += check_ingest(res, exp, failures)
        elif args.workload == "curate":
            attempted += check_curate(res, failures)
    failed = res["failed"] + (len(failures) - len(res["failures"]))
    attempted = max(attempted, failed, 1)

    log(f"perfbench: {time.monotonic() - START:.1f} s checked")
    m = res["metrics"]
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    for d in wanted:
        # a layer the workload does not use reports 0; an end-to-end
        # metric must always be measured
        if d["name"] not in m and not args.trace:
            failures.append(f"metric {d['name']} was not measured")
            failed += 1
        metrics[d["name"]] = {"value": m.get(d["name"], 0.0), "unit": d["unit"]}

    log(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cpus={cpus()} seconds={args.seconds}")
    print(f"input_rows {man['input_rows']} rows")
    print(f"input_file_bytes {man['input_file_bytes']} B")
    print(f"input_body_bytes {man['input_body_bytes']} B")
    for k in ("ops", "drains", "questions"):
        if k in m:
            print(f"samples.{k} {int(m[k])} count")
    # too few operations per run for a steady p90 (fewer than ten lie
    # beyond it), so it is printed for reading but not reported
    if "op_p90_ms" in m and not args.trace:
        print(f"op_p90_ms {m['op_p90_ms']:.6g} ms (unreported)")
    # the first, cold set-up of the run (JVM start included); setup_s is
    # the median over the run's set-ups
    if "setup_first_s" in m and not args.trace:
        print(f"setup_first_s {m['setup_first_s']:.6g} s (unreported)")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"error_rate {failed / attempted:.6g} ratio ({failed}/{attempted})")
    for f in failures:
        log(f"perfbench: FAILED {f}")
    correct = failed == 0 and not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
