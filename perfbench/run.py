#!/usr/bin/env python3
"""graft benchmark runner: one workload, one seed, one JSON result line.

Usage (from the checkout root):
  python3 perfbench/run.py --workload sink_stream --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM side
(perfbench/scala) at local[nproc], checks every output against the
generator's expectation or the DuckDB oracle (perfbench/oracle.py), and
prints the metrics named in BENCHMARK.json as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exit codes: 0 every check passed; 1 a check failed; 2 the build failed;
3 the JVM failed or ran past the deadline (no result line then).

Extra flag: --inject corrupt|missing breaks one sink object after the
first rep's write (the checks must then fail).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s, a first run's build aside
BASE_CORPUS = os.path.join(HERE, "data", "documents_sf0.1.parquet")

# Sizes. sink: a stream of small files (one micro-batch each) over 16
# topic-partitions, and one large batch over 64; curate_to_sink: the
# first CURATE_DOCS documents of the base corpus.
STREAM_FILES, STREAM_PER_FILE, STREAM_PARTITIONS = 12, 1000, 4
CURATE_DOCS = 600
BATCH_RECORDS = 40_000
WARM_STREAM = (1, 200)
WARM_BATCH = 2_000
WARM_DOCS = 100
PROBE_STREAM = (6, 500)
PROBE_DOCS = 100

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat: (steal, total)."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7] if len(ticks) > 7 else 0, sum(ticks)
    except (OSError, ValueError):
        return 0, 0


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def source_digest(root):
    h = hashlib.sha256()
    for p in build.sources(root):
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def generate(workload, seed, inp, trace):
    """Write the workload's inputs under ``inp``; returns the expectations
    for the outputs the generator alone can predict."""
    t0 = time.time()
    d = lambda name: os.path.join(inp, name)  # noqa: E731
    warm_seed, probe_seed = seed + 1_000_003, seed + 2_000_003
    exp = {}
    if workload == "sink":
        exp["stream"] = gen.write_stream(seed, d("stream"), STREAM_FILES, STREAM_PER_FILE,
                                         STREAM_PARTITIONS)
        exp["stream"]["batches"] = STREAM_FILES
        exp["batch"] = gen.write_batch(seed, d("batch"), BATCH_RECORDS)
        exp["batch"]["records"] = BATCH_RECORDS
        gen.write_stream(warm_seed, d("warm_stream"), *WARM_STREAM, STREAM_PARTITIONS)
        gen.write_batch(warm_seed, d("warm_batch"), WARM_BATCH, n_files=1)
        if trace:
            gen.write_corpus(probe_seed, BASE_CORPUS, d("probe_corpus"), PROBE_DOCS)
    else:
        gen.write_corpus(seed, BASE_CORPUS, d("main"), CURATE_DOCS)
        gen.write_corpus(warm_seed, BASE_CORPUS, d("warm"), WARM_DOCS)
        if trace:
            gen.write_stream(probe_seed, d("probe_stream"), *PROBE_STREAM, STREAM_PARTITIONS)
    log(f"generated {workload} inputs in {time.time() - t0:.1f}s")
    return exp


def run_jvm(classes, args, work, timeout):
    """Run the JVM side; returns its exit code. Raises TimeoutExpired (the
    JVM killed and reaped) when it runs past ``timeout``."""
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young generation: peak RSS then follows what the
    # workload keeps, not how the collector happened to resize
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JVM_OPENS + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def check(self, what, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")

    def count_ok(self, n):
        self.attempted += n


def names_sha(names):
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()


def kind(phase):
    """Phase name without its repeat number: batch2 -> batch."""
    return phase.rstrip("0123456789")


def check_output(chk, what, out, exp):
    """One written output against its expectation."""
    got = out["digest"]
    chk.check(f"{what} readback", got.get("count") == exp["count"] and got.get("hash") == exp["hash"],
              f"got {got}, want count={exp['count']} hash={exp['hash']}")
    ok = out["names_sha256"] == names_sha(exp["names"])
    detail = f"{out['objects']} objects, want {len(exp['names'])}"
    if not ok and "names" in out:
        missing = sorted(set(exp["names"]) - set(out["names"]))[:3]
        extra = sorted(set(out["names"]) - set(exp["names"]))[:3]
        detail += f"; missing {missing}; unexpected {extra}"
    chk.check(f"{what} object names", ok, detail)


def evaluate(workload, res, exp, inp, chk):
    """Run every output check; returns the end-to-end metric values.

    Operations counted: micro-batches, sink batches, queries, and each
    output's read-back and object-name checks."""
    reps = res["reps"]
    if workload == "curate_to_sink":
        import oracle
        corpus = os.path.join(inp, "main", "documents.parquet")
        replay = oracle.replay(corpus, res["query_rows"],
                               os.path.join(os.getcwd(), ".bench_cache", "oracle"))
        for q, (ok, detail) in replay["queries"].items():
            chk.check(f"query {q} vs DuckDB oracle", ok, detail)
        layout = res["keeper_layout"]
        exp = {"keepers": oracle.keeper_expectation(replay["v6_keepers"], layout["batches"],
                                                    layout["partitions"])}
        exp["keepers"]["line_bytes"] = res["keeper_line_bytes"]
        for q in reps[0]["queries"]:
            variants = {r["queries"][q]["rows_sha256"] for r in reps}
            chk.check(f"query {q} rows equal across reps", len(variants) == 1,
                      f"{len(variants)} variants")
        chk.count_ok(len(reps) * len(reps[0]["queries"]) - len(reps[0]["queries"]))
    for i, r in enumerate(reps):
        for name, phase in r["phases"].items():
            check_output(chk, f"rep{i} {name}", phase["out"], exp[kind(name)])
        if workload == "sink":
            chk.check(f"rep{i} micro-batches", r["batches"] == exp["stream"]["batches"],
                      f"{r['batches']} batches, want {exp['stream']['batches']}")
            chk.count_ok(r["batches"] + len(r["phases"]) - 1)  # micro-batches, large batches
        else:
            chk.count_ok(len(r["batch_ms"]))
    batch_ms = [b for r in reps for b in r["batch_ms"]]
    deciles = statistics.quantiles(batch_ms, n=10, method="inclusive")

    def ratio(r):
        return (sum(p["out"]["bytes"] for p in r["phases"].values())
                / sum(exp[kind(k)]["line_bytes"] for k in r["phases"]))
    # the large-batch phases (sink) or the keeper sink (curate), with their
    # record counts from the generator or the oracle
    bulk = [(exp[kind(k)]["count"], p) for r in reps for k, p in r["phases"].items()
            if kind(k) in ("batch", "keepers")]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(r["wall_s"] for r in reps),
        "records_per_s": statistics.median(n / p["write_s"] for n, p in bulk),
        "batch_p50_ms": statistics.median(batch_ms),
        "batch_p90_ms": deciles[8],
        "readback_s": statistics.median(p["readback_s"] for _, p in bulk),
        "stored_bytes_ratio": statistics.median(ratio(r) for r in reps),
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"failed_ops_ratio": chk.failed / max(1, chk.attempted),
        "batch_samples": len(batch_ms), "reps": len(reps)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt", "missing"))
    a = ap.parse_args()
    root = os.getcwd()

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        classes = build.build(root)
    except Exception as e:  # no sources, or they do not compile
        log(f"build failed: {e}")
        return 2
    started = time.time()  # the deadline excludes a first run's build
    load_before = loadavg()
    ticks_before = cpu_ticks()

    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    cores = len(os.sched_getaffinity(0))
    out_dir = os.path.join(root, ".bench_out")
    art_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")

    def stamp(jvm_env):
        steal, total = (after - before for before, after in zip(ticks_before, cpu_ticks()))
        return dict(jvm_env, nproc=cores, loadavg_before=load_before,
                    loadavg_after=loadavg(), cpu_steal_pct=100 * steal / max(1, total),
                    git_sha=git_sha(root),
                    source_sha256=source_digest(root), seed=a.seed,
                    workload=a.workload, trace=a.trace)

    def write_artifact(artifact):
        os.makedirs(out_dir, exist_ok=True)
        with open(art_path, "w") as f:
            json.dump(artifact, f, indent=1, default=str)

    try:
        exp = generate(a.workload, a.seed, inp, a.trace)
        result_file = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--input", inp, "--work", os.path.join(work, "run"),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                "--result", result_file]
        if a.inject:
            args += ["--inject", a.inject]
        t0 = time.time()
        try:
            rc = run_jvm(classes, args, work, DEADLINE_S - (time.time() - started))
        except subprocess.TimeoutExpired:
            log(f"jvm killed after {time.time() - t0:.1f}s: past the {DEADLINE_S} s deadline")
            log(open(os.path.join(work, "jvm.log")).read()[-3000:])
            write_artifact({"env": stamp({}), "failures": [f"timeout after {DEADLINE_S} s"]})
            return 3
        log(f"jvm exited {rc} after {time.time() - t0:.1f}s")
        if rc != 0 or not os.path.exists(result_file):
            log(open(os.path.join(work, "jvm.log")).read()[-3000:])
            return 3
        with open(result_file) as f:
            res = json.load(f)
        if "fatal" in res:
            log(f"jvm failed: {res['fatal']}")
            log(open(os.path.join(work, "jvm.log")).read()[-3000:])
            return 3
        chk = Checks()
        e2e, extra = evaluate(a.workload, res, exp, inp, chk)
        if a.trace:
            values = res["trace"]
        else:
            values = e2e
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None:
                chk.check(f"metric {m['name']}", False, "not measured")
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        env = stamp(res["env"])
        write_artifact({"env": env, "metrics": metrics, "end_to_end": e2e, "extra": extra,
                        "failures": chk.failures, "result": res})
        for msg in chk.failures:
            log(f"FAILED {msg}")
        print("# env " + json.dumps(env))
        print("# " + json.dumps(extra))
        if a.trace:
            t = res["trace"]
            print("# trace: " + " ".join(f"{k}={t[k]:.3f}" for k in (
                "traced_wall_s", "untraced_wall_s", "tracing_overhead_s",
                "tracing_overhead_warm_s", "uncovered_s")))
        print(f"# artifact {os.path.relpath(art_path, root)}")
        correct = chk.failed == 0
        print(json.dumps({"correct": correct, "attempted": chk.attempted,
                          "failed": chk.failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
