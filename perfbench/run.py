#!/usr/bin/env python3
"""End-to-end benchmark of the document pipeline (`Pipeline.run`).

Run from the repository root:

    python3 perfbench/run.py --workload crawl-unique --seed 1 --seconds 15 --trace 0

It builds the program and the harness once (sbt, offline), generates the
workload's corpus from the seed, launches one plain `java` process on the
compiled classpath, checks every pipeline run's outputs, and prints one JSON
object as its last line of standard output: end-to-end metrics of one timed
`Pipeline.run` with `--trace 0`, per-layer metrics (from a further run that
calls each layer in turn) with `--trace 1`. The workloads are sized so that
the timed run lasts about `--seconds` on a 4-vCPU machine; `--seconds` is
recorded, not used to size or stop anything. See perfbench/README.md.
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
from pathlib import Path

import corpus

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
HARNESS = HERE / "harness"
PINS = HERE / "pins.json"
DEFAULT_SEED = 1
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Each workload: the input format and the seeded corpus generator, which
# writes the measured corpus at shrink 1 and the warm-up corpus at
# WARM_SHRINK. One run is one JVM: set-up (session start plus untimed
# pipeline runs on the warm-up corpus), then one timed pipeline run.
WARM_SHRINK = 8
WORKLOADS = {
    "crawl-unique": {
        "format": "wet",
        "generate": lambda d, seed, cpus, shrink: corpus.crawl_unique(
            d, seed, n_docs=8000 // shrink, n_files=4 * cpus),
    },
    "dedup-heavy": {
        "format": "parquet",
        "generate": lambda d, seed, cpus, shrink: corpus.dedup_heavy(
            d, seed, n_base=4800 // shrink, n_files=4 * cpus),
    },
}

# The per-layer spans of the traced run, in pipeline order.
SPANS = ["ingest", "clean", "dedup", "quality", "tokenize.lexicon", "tokenize.train",
         "tokenize.encode", "sink.docs", "sink.tokens"]

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# program's build passes to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so an unchanged tree is not rebuilt."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.*"))
    for tree in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program (with its own build definition) and the harness
    once; return the runtime classpath for plain `java`."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    stamp = source_stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().split()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building program and harness with sbt (once per source tree)")
    t0 = time.time()
    with open(BUILD / "build.log", "wb") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dperfbench.classpath={cp_file}", "writeClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not cp_file.is_file():
        raise SystemExit(f"build failed (see {BUILD / 'build.log'})")
    stamp_file.write_text(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp_file.read_text().split()


def java_classpath(entries):
    """Compiled class directories plus Spark's jar directory."""
    dirs = [e for e in entries if os.path.isdir(e)]
    spark_core = next(e for e in entries if os.path.basename(e).startswith("spark-core_"))
    return os.pathsep.join(dirs + [os.path.join(os.path.dirname(spark_core), "*")])


def clean_env():
    """The inherited environment minus program knobs and Spark overrides."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")
            and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS",
                          "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}


def launch(classpath, work, args):
    """One harness JVM with its own tmpdir, Spark local dir and checkpoint
    dir under `work`; returns its parsed result line."""
    for sub in ("tmp", "spark-local", "checkpoint"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xmn512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS, "-cp", classpath,
           "perfbench.Harness", "--work", str(work), "--launch-ns", str(time.time_ns()), *args]
    with open(work / "stderr.log", "wb") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=clean_env(), stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:  # timed out, or this process was terminated
                proc.kill()
                proc.wait()
    lines = [l for l in out.decode().splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        tail = (work / "stderr.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"harness failed (exit {proc.returncode}):\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def check_run(rec, facts, pins):
    """Correctness of one `Pipeline.run`: a list of failed checks."""
    s, rb = rec["summary"], rec["readback"]
    fails = []
    if s["docs_ingested"] != facts["docs"]:
        fails.append(f"docs_ingested {s['docs_ingested']} != generated {facts['docs']}")
    if rb["doc_rows"] != s["docs_passed_quality"]:
        fails.append(f"rows written {rb['doc_rows']} != docs_passed_quality "
                     f"{s['docs_passed_quality']}")
    if rb["token_rows"] != s["docs_passed_quality"]:
        fails.append(f"token rows {rb['token_rows']} != docs_passed_quality")
    if rb["token_sum"] != s["total_tokens"]:
        fails.append(f"tokens written {rb['token_sum']} != total_tokens {s['total_tokens']}")
    if s["docs_after_clean"] - s["docs_after_dedup"] < facts["identical_copies"]:
        fails.append(f"dedup removed {s['docs_after_clean'] - s['docs_after_dedup']} "
                     f"< {facts['identical_copies']} planted identical copies")
    if rb["distinct_texts"] != rb["doc_rows"]:
        fails.append("byte-identical documents survived dedup")
    if pins is not None and pins != s:
        fails.append(f"summary {s} != pinned {pins}")
    return fails


def e2e_metrics(res, facts):
    """End-to-end metrics of the timed run."""
    r = res["run"]
    rb = r["readback"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "docs_per_s": (facts["docs"] / r["wall_s"], "1/s"),
        "output_bytes_per_input_byte": (
            (rb["docs_bytes"] + rb["tokens_bytes"]) / facts["text_bytes"], "ratio"),
        "shuffle_mb": (r["counters"]["shuffle_bytes"] / 1e6, "MB"),
        "task_cpu_s": (r["counters"]["cpu_s"], "s"),
        "peak_heap_mb": (r["retained_heap_bytes"] / 1e6, "MB"),
    }


def layer_metrics(res):
    """Per-layer metrics of the traced run."""
    t = res["traced"]
    span = {s["name"]: s for s in t["spans"]}
    rows_out = {n: span[n].get("rows_out") for n in SPANS}
    rows_out["sink.docs"] = t["readback"]["doc_rows"]
    rows_out["sink.tokens"] = t["readback"]["token_rows"]
    per = {}
    for name in SPANS:
        c = span[name]["counters"]
        per[f"{name}.wall_s"] = (span[name]["end_s"] - span[name]["start_s"], "s")
        per[f"{name}.task_cpu_s"] = (c["cpu_s"], "s")
        per[f"{name}.rows_out"] = (rows_out[name], "count")
        per[f"{name}.jobs"] = (c["jobs"], "count")
    dedup = span["dedup"]["counters"]
    per.update({
        "ingest.input_mb": (span["ingest"]["counters"]["input_bytes"] / 1e6, "MB"),
        "dedup.shuffle_mb": (dedup["shuffle_bytes"] / 1e6, "MB"),
        "dedup.shuffle_records": (dedup["shuffle_records"], "count"),
        "dedup.spill_mb": (dedup["spill_bytes"] / 1e6, "MB"),
        "dedup.gc_ms": (dedup["gc_ms"], "ms"),
        "tokenize.lexicon.words": (t["lexicon_words"], "count"),
        "sink.docs.bytes": (span["sink.docs"]["bytes"], "bytes"),
        "sink.tokens.bytes": (span["sink.tokens"]["bytes"], "bytes"),
        "trace_overhead_s": (t["wall_s"] - res["run"]["wall_s"], "s"),
    })
    return per


def check_traced(t, summary):
    """The traced run must agree with the untraced run layer by layer."""
    rows = {s["name"]: s.get("rows_out") for s in t["spans"]}
    want = {"ingest": summary["docs_ingested"], "clean": summary["docs_after_clean"],
            "dedup": summary["docs_after_dedup"], "quality": summary["docs_passed_quality"],
            "tokenize.encode": summary["docs_passed_quality"]}
    fails = [f"traced {k} rows {rows[k]} != {v}" for k, v in want.items() if rows[k] != v]
    if t["total_tokens"] != summary["total_tokens"]:
        fails.append(f"traced total_tokens {t['total_tokens']} != {summary['total_tokens']}")
    rb = t["readback"]
    if rb["doc_rows"] != summary["docs_passed_quality"] or \
            rb["token_sum"] != summary["total_tokens"]:
        fails.append(f"traced outputs {rb} disagree with summary {summary}")
    return fails


def self_times(t):
    """Self time of each span: its duration minus what its children cover.
    The layer spans are leaves; the root `pipeline` keeps the gaps."""
    out = {s["name"]: s["end_s"] - s["start_s"] for s in t["spans"]}
    out["pipeline"] = t["wall_s"] - sum(out.values())
    return out


def main():
    # SIGTERM unwinds like an error, so the harness JVM is stopped and the
    # run directory deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: run from a checkout of the program (build.sbt and "
                         "src/main not found)")
    wl = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))
    classpath = java_classpath(build())

    run_dir = BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        facts = wl["generate"](str(run_dir / "input"), a.seed, cpus, 1)
        warm_facts = wl["generate"](str(run_dir / "warm-input"), a.seed, cpus, WARM_SHRINK)
        log(f"{a.workload} seed {a.seed}: {facts}, warm-up {warm_facts}, "
            f"generated in {time.time() - t0:.1f} s")
        pins_all = json.loads(PINS.read_text()) if PINS.is_file() else {}
        pins = pins_all.get(a.workload) if a.seed == DEFAULT_SEED else None
        args = ["--input", str(run_dir / "input"), "--warm-input", str(run_dir / "warm-input"),
                "--format", wl["format"], "--cpus", str(cpus)] + (["--trace"] if a.trace else [])
        res = launch(classpath, run_dir / "jvm", args)
        failures = [check_run(r, warm_facts, None) for r in res["warmup"]]
        failures.append(check_run(res["run"], facts, pins))
        attempted = len(failures)
        if a.trace:
            t = res["traced"]
            failures.append(check_traced(t, res["run"]["summary"]))
            attempted += 1
            metrics = layer_metrics(res)
            log(f"traced run {t['wall_s']:.2f} s; self time and share by span:")
            for name, self_s in self_times(t).items():
                log(f"  {name:18} {self_s:7.3f} s {self_s / t['wall_s']:6.1%}")
        else:
            metrics = e2e_metrics(res, facts)
        failed = sum(1 for f in failures if f)
        for f in failures:
            for msg in f:
                log(f"CHECK FAILED: {msg}")
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "seconds": a.seconds, "facts": facts, "knobs": res["knobs"], "heap": HEAP,
                  "commit": git_commit(), "setup_s": res["setup_s"], "warmup": res["warmup"],
                  "run": res["run"],
                  "traced": dict(res["traced"], self_s=self_times(res["traced"]))
                  if a.trace else None}
        (BUILD / "records").mkdir(parents=True, exist_ok=True)
        rec_path = BUILD / "records" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        rec_path.write_text(json.dumps(record, indent=1))
        log(f"run record: {rec_path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def git_commit():
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                              capture_output=True, text=True, timeout=10).stdout.strip() \
            or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
