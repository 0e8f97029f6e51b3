#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload backfill|serve --seed N --seconds S --trace 0|1

Builds the engine and the harness (perfbench/build.sbt) when their sources
changed, runs one JVM with a local[nproc] SparkSession, and prints as its
last stdout line one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1). The line before it is a stamp with nproc, heap and
boot id. Everything the run writes stays under .bench_build/ in the
checkout; a traced run leaves its spans and layer table in
.bench_build/trace/<workload>-seed<N>/.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main"
WORKLOADS = ("backfill", "serve")
RUN_LIMIT_S = 170  # one run must end within 180 s; a build has its own limit
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SPAN_FIELDS = ("self_s", "job_s", "gap_s", "plan_s", "codegen_s", "jobs")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    """Compile with sbt, offline, unless the sources are unchanged; returns
    the runtime classpath."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt") or die("sbt is not on PATH")
    benv = dict(env, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    benv["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=benv, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (sbt exit {rc}), log in {log}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def heap_gb():
    """JVM heap from MemTotal, as the repo's test command sizes it: half
    of it, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def boot_id():
    try:
        return Path("/proc/sys/kernel/random/boot_id").read_text().strip()
    except OSError:
        return "unknown"


def run_jvm(cp, args, cores, heap, work, out, log):
    java = (str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME")
            else shutil.which("java")) or die("java is not on PATH")
    cmd = [java, f"-Xmx{heap}g", f"-Xms{heap}g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--work", str(work), "--out", str(out)]
    # a TERM (a caller's timeout) must stop the JVM too: it has its own
    # process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=RUN_LIMIT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run stopped ({sys.exc_info()[0].__name__}), log in {log}")


def end_to_end(raw, phase):
    """End-to-end values of one phase."""
    smp, cnt = phase["samples"], phase["counts"]
    ingest = smp.get("round_s") or smp["batch_s"]  # backfill rounds include the compact
    v = {"setup_s": raw["session_s"] + raw["setup_s"] + raw["warmup_s"],
         "ingest_eps": cnt["events"] / sum(ingest),
         "bytes_per_event": cnt["lake.bytes_added"] / cnt["events"],
         "ok_share": 1 - (phase["failed"] + phase["mismatched"]) / phase["attempted"]}
    for name in ("batch", "lookup", "scan", "feed"):
        v[f"{name}_p50_s"] = statistics.median(smp[f"{name}_s"])
    return v


def per_layer(phase):
    v = dict(phase["layers"])
    for k in ("decode.input_bytes", "apply.rows_out", "lake.files_added", "lake.bytes_added",
              "lake.compactions", "lake.occ_retries", "sql.scan_files_total"):
        v[k] = phase["counts"].get(k, 0.0)
    return v


def layer_report(spec, workload, untraced, untraced_batches, traced, phase):
    """Per-layer table of the traced phase and the tracing overhead."""
    lay = phase["layers"]
    lines = [f"workload {workload}: per-layer totals over the traced phase",
             f"{'span':16s}" + "".join(f"{f:>11s}" for f in SPAN_FIELDS)]
    for s in [m["name"][:-len(".self_s")] for m in spec["per_layer"]
              if m["name"].endswith(".self_s")]:
        lines.append(f"{s:16s}" + "".join(f"{lay[f'{s}.{f}']:11.3f}" for f in SPAN_FIELDS))
    for k, x in sorted(per_layer(phase).items()):
        if not k.endswith(SPAN_FIELDS):
            lines.append(f"{k:28s} {x:14.0f}")
    # compactions run inside a serve batch (auto-compaction) but after
    # the batches of a backfill round
    inside = ("decode", "apply", "lake.merge") + (("lake.compact",) if workload == "serve" else ())
    n = len(phase["samples"]["batch_s"])
    layers = sum(lay[f"{s}.self_s"] for s in inside) / n
    base = statistics.mean(untraced_batches)
    traced_batch = statistics.mean(phase["samples"]["batch_s"])
    overhead = traced_batch - base
    lines += ["", f"per batch, mean of {n}: streaming.batch {traced_batch:.3f} s traced, "
              f"{base:.3f} s untraced, tracing overhead {overhead:+.3f} s",
              f"layer self times ({' + '.join(inside)}) sum to {layers:.3f} s per batch, "
              f"{abs(layers - base):.3f} s from the untraced batch: "
              f"{'within' if abs(layers - base) <= abs(overhead) else 'beyond'} the overhead",
              "end-to-end, untraced vs traced phase of this run:"]
    for k, a in untraced.items():
        if k != "setup_s":
            b = traced[k]
            lines.append(f"  {k:16s} {a:12.4f} {b:12.4f} ({(b - a) / a * 100 if a else 0:+.1f}%)")
    return "\n".join(lines) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists() or not (ENGINE_SRC / "scala" / "graft").is_dir():
        die(f"run from a checkout: needs {spec_file.name} and the engine under {ENGINE_SRC}")
    spec = json.loads(spec_file.read_text())
    env = dict(os.environ, SPARK_HOME=spark_home())
    BUILD.mkdir(exist_ok=True)
    cp = build(env)

    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    work = BUILD / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out, log = work / "result.json", BUILD / f"{args.workload}.log"
    t0 = time.monotonic()
    rc = run_jvm(cp, args, cores, heap, work, out, log)
    raw = json.loads(out.read_text()) if out.exists() else {}
    if rc != 0 or "timed" not in raw or (args.trace and "traced" not in raw):
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        die(f"the benchmark JVM exited {rc} without a full result, log in {log}")
    shutil.copy(out, BUILD / f"{args.workload}.json")

    phases = [raw["timed"]] + ([raw["traced"]] if args.trace else [])
    if any(not p["samples"].get(f"{k}_s") for p in phases for k in ("batch", "lookup", "scan", "feed")):
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        die(f"operations failed before every metric had a sample, log in {log}")
    e2e = end_to_end(raw, raw["timed"])
    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "nproc": cores, "heap_gb": heap, "boot_id": boot_id(),
             "wall_s": round(time.monotonic() - t0, 3), "params": raw["params"]}
    values, wanted = e2e, spec["end_to_end"]
    if args.trace:
        values, wanted = per_layer(raw["traced"]), spec["per_layer"]
        trace_dir = BUILD / "trace" / f"{args.workload}-seed{args.seed}"
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
        shutil.move(str(work / "spans.jsonl"), trace_dir / "spans.jsonl")
        report = layer_report(spec, args.workload, e2e, raw["timed"]["samples"]["batch_s"],
                              end_to_end(raw, raw["traced"]), raw["traced"])
        (trace_dir / "layers.txt").write_text(report)
        sys.stderr.write(report)
        stamp["trace_dir"] = str(trace_dir.relative_to(ROOT))
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"no value for metrics {missing}")
    failed = sum(p["failed"] + p["mismatched"] for p in phases)
    result = {"correct": failed == 0, "attempted": int(sum(p["attempted"] for p in phases)),
              "failed": int(failed),
              "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in wanted}}
    shutil.rmtree(work, ignore_errors=True)
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
