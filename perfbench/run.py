#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness with sbt (offline) and caches the classpath under
perfbench/.build, keyed by a digest of the sources; later runs start
the harness JVM directly. Inputs: the seeded Zipf corpus
(wordcount_zipf) and the vendored sf0.01 tables (perfbench/data).

One JVM, one closed-loop client (ops run one after another) at
local[nproc]. With --trace 0 the last stdout line carries the
end-to-end metrics, with --trace 1 the per-layer ones. Every metric is
also printed on its own line with unit and sample count. Outputs are
checked (word-count files against the corpus manifest, query and drain
results against their DuckDB oracles); a failed check exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import benchlib  # noqa: E402
import corpus  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUN = os.path.join(HERE, ".run")
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ("documents", "embeddings", "events", "lineitem", "orders")
WORKLOADS = ("wordcount_zipf", "curation_mix")
HEAP = "3g"
RUN_LIMIT_S = 150  # corpus and harness; the checks follow within 180 s
BUILD_LIMIT_S = 700
# the JVM flags graft's build.sbt gives its forked runs
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s")]  # name, unit
PER_LAYER = [  # name, unit
    ("entry.build_ms", "ms"), ("entry.build_jobs", "count"),
    ("tables.resolve_ms.documents", "ms"),
    ("tables.resolve_ms.embeddings", "ms"),
    ("tables.resolve_ms.events", "ms"),
    ("tables.resolve_ms.lineitem", "ms"),
    ("tables.resolve_ms.orders", "ms"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.task_wait_ms", "ms"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.core_busy_ratio", "ratio"),
    ("wordcount.map_s", "s"), ("wordcount.tokens", "count"),
    ("wordcount.distinct_words", "count"), ("tokenizer.mb_per_s", "MB/s"),
    ("sink.write_s.alpha", "s"), ("sink.write_s.freq", "s"),
    ("sink.bytes", "bytes"),
    ("stream.folds", "count"), ("stream.input_rows", "count"),
    ("stream.fold_ms", "ms"), ("stream.fold_plan_ms", "ms"),
    ("stream.fold_add_batch_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.drain_setup_ms", "ms"),
    ("index.probe_ms", "ms"), ("index.read_amp_bp.minhash", "bp"),
    ("index.append_ms", "ms"), ("index.compact_ms", "ms"),
    ("index.segments", "count"), ("index.bytes_written", "bytes"),
    ("index.write_amp", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.gc_count", "count"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"),
    ("self_s.SparkEntry", "s"), ("self_s.sources.Tables", "s"),
    ("self_s.operators.WordCount", "s"),
    ("self_s.sinks.FormattedTextSink", "s"),
    ("self_s.streaming.EventStreams", "s"),
    ("self_s.spark.execute", "s"), ("self_s.unattributed", "s")]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


def run_bounded(cmd, cwd, env, log_path, limit_s):
    """Run `cmd` in its own process group with output to `log_path`;
    kill the whole group if it outlives `limit_s`. Always waits."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} exceeded {limit_s:.0f}s, see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_digest():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the harness, building with sbt when sources changed."""
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("repository sources (build.sbt, src/main/scala) "
                         "not found next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.supershell=false", "-Dsbt.color=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env.update(COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               SPARK_GRAFT_TMPDIR=os.path.join(BUILD, "tmp"))
    log = os.path.join(BUILD, "sbt.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     HERE, env, log, BUILD_LIMIT_S)
    with open(log, errors="replace") as f:
        lines = f.read().splitlines()
    cp = [ln.strip() for ln in lines
          if ln.startswith("/") and os.pathsep in ln and "perfbench" in ln]
    if rc != 0 or not cp:
        raise BenchError(f"sbt build failed (rc={rc}), see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def harness(classpath, args, corpus_path, limit_s):
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g"] + opens +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "perfbench.Harness", "--workload", args.workload,
            "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", DATA,
            "--corpus", corpus_path, "--work", RUN, "--cores", str(cores())])
    log = os.path.join(RUN, "harness.log")
    rc = run_bounded(cmd, RUN, dict(os.environ), log, limit_s)
    result = os.path.join(RUN, "result.json")
    if rc != 0 or not os.path.exists(result):
        raise BenchError(f"harness failed (rc={rc}), see {log}")
    with open(result) as f:
        return json.load(f)


def check_outputs(workload, manifest):
    """(names of ops with wrong answers -> problem, per-layer extras)."""
    if workload == "wordcount_zipf":
        out = os.path.join(RUN, "out")
        try:
            alpha = benchlib.parse_sink(os.path.join(out, "alpha.txt"),
                                        "=== Final Word Counts (A → Z) ===")
            freq = benchlib.parse_sink(os.path.join(out, "freq.txt"),
                                       "=== Final Word Counts (High → Low) ===")
        except (OSError, ValueError) as e:
            return {"wordcount": f"unreadable output: {e}"}, {}
        problems = benchlib.wordcount_check(alpha, freq, manifest)
        extras = {
            "wordcount.tokens": sum(c for _, c in alpha),
            "wordcount.distinct_words": len(alpha),
            "sink.bytes": sum(os.path.getsize(os.path.join(out, f))
                              for f in ("alpha.txt", "freq.txt"))}
        return ({"wordcount": "; ".join(problems)} if problems else {}), extras
    wrong = benchlib.oracle_check(os.path.join(RUN, "check"), DATA, TABLES)
    return wrong, {}


def emit(name, value, unit, n, note=""):
    print(f"metric {name} = {value:.6g} {unit} (n={n}){note}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    start = time.monotonic()
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(RUN)
    manifest = None
    corpus_path = os.path.join(RUN, "corpus.txt")
    if args.workload == "wordcount_zipf":
        manifest = corpus.write(args.seed, corpus_path,
                                os.path.join(RUN, "manifest.json"))
    try:
        res = harness(classpath, args, corpus_path,
                      RUN_LIMIT_S - (time.monotonic() - start))
        wrong, extras = check_outputs(args.workload, manifest)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    print(f"box: nproc={res['cores']} heap_max_mb={res['heap_max_mb']} "
          f"spark={res['spark_version']}")
    passes = [p["ops"] for p in res["passes"]]
    traced = [res["trace"]["ops"]] if res["trace"] else []
    attempted, failed, failed_names = benchlib.account(passes + traced,
                                                       set(wrong))
    for name, problem in sorted(wrong.items()):
        print(f"check failed: {name}: {problem}")
    setup_errors = {op["name"]: op["error"] for op in res["setup_ops"]
                    if op["error"]}
    for name, err in sorted(setup_errors.items()):
        print(f"set-up error: {name}: {err}")

    walls = [p["wall_s"] for p in res["passes"]]
    samples = [op["seconds"] for ops in passes for op in ops
               if not op["error"]]
    e2e = {"setup_s": res["setup_s"], "pass_s": benchlib.median(walls)}
    emit("setup_s", e2e["setup_s"], "s", 1)
    emit("pass_s", e2e["pass_s"], "s", len(walls))
    if samples:
        emit("op_p50_s", benchlib.median(samples), "s", len(samples))
    tail = benchlib.tail_percentile(samples)
    if tail:
        emit("op_tail_s", tail[1], "s", len(samples), f" p{tail[0]:g}")
    emit("heap_peak_mb", res["heap_peak_mb"], "MB", len(walls))
    if manifest:
        emit("mb_per_s", manifest["bytes"] / 1e6 / e2e["pass_s"], "MB/s",
             len(walls))
    emit("failed_ratio", failed / attempted, "ratio", attempted)
    if failed_names:
        print("failed ops: " + ", ".join(failed_names))

    if args.trace:
        trace = dict(res["trace"]["metrics"])
        trace.update(extras)
        if manifest and trace.get("wordcount.map_s"):
            trace["tokenizer.mb_per_s"] = (manifest["bytes"] / 1e6 /
                                           trace["wordcount.map_s"])
        metrics = {n: {"value": float(trace.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
        for n, u in PER_LAYER:
            emit(n, metrics[n]["value"], u, 1)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in END_TO_END}
    correct = failed == 0 and not setup_errors
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
