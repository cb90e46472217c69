#!/usr/bin/env python3
"""Pipeline benchmark: the two medallion DAGs timed end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]

One run builds the engine from source (cached by a hash of the sources),
generates the workload's inputs from ``--seed``, starts a fresh JVM with
``local[N]`` (N = the host's cores) and drives the DAG by calling each
layer's public function (see ``perfbench/scala/PerfBench.scala``). It
checks the outputs and prints, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its span record to
``perfbench/.out/trace-<workload>-seed<N>.json``.

``--all`` runs every workload untraced and prints each end-to-end metric
by name and unit. Either form exits non-zero when a correctness check
fails. See ``perfbench/README.md`` for the metrics and workloads.
"""
import argparse
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

# Input sizes per workload. A domain history is ~4 months of blocks; an
# incremental batch is 2% of it (1% would be 10 transactions, whose size
# varies too much by seed). A run uses only the batches its time allows;
# the rest cost only generation.
DOMAIN_TX = 1_000
DOMAIN_BATCH_TX = 20
DOMAIN_BATCHES = 4
BACKFILL_TX = 100_000
EVENTS = 20_000
# The history of domain_incremental is drawn from this seed, whatever
# --seed is; --seed draws the batches. The history lake is then built once
# per build and reused (see history_lake).
HISTORY_SEED = 0

# domain_backfill is not in BENCHMARK.json: one run takes minutes, beyond
# the per-run budget. `--all` and record.py run it.
WORKLOADS = ("domain_incremental", "events_serving", "domain_backfill")
HEAP = "3g"
RUN_TIMEOUT_S = {"domain_backfill": 900}


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_jars():
    """The Spark jars (they include the Scala compiler): $SPARK_HOME/jars,
    else those of the first Spark install with a bin/spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                j.startswith("scala-compiler-") for j in os.listdir(jars)):
            return jars
    raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")


def build():
    """Compile the engine's main sources plus perfbench/scala into a classes
    dir keyed by a hash of every source file; reuse it when present."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    srcs = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    srcs.sort()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    root = os.path.join(HERE, ".build")
    name = h.hexdigest()[:16]
    classes = os.path.join(root, name, "classes")
    if os.path.isdir(classes):
        return classes
    shutil.rmtree(root, ignore_errors=True)  # keep one build
    tmp = os.path.join(root, name, "tmp")
    os.makedirs(tmp)
    jars = sorted(os.path.join(spark_jars(), j) for j in os.listdir(spark_jars())
                  if j.endswith(".jar"))
    scala = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(scala), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(jars), "-d", tmp] + srcs
    log = os.path.join(root, name, "build.log")
    with open(log, "w") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: build failed")
    os.rename(tmp, classes)
    return classes


def make_inputs(workload, seed, inputs):
    """Generate the workload's deliveries and write the manifest the JVM
    reads. Returns the generator's manifest."""
    if workload == "domain_incremental":
        m = gen.domain(inputs, HISTORY_SEED, seed, DOMAIN_TX, DOMAIN_BATCH_TX, DOMAIN_BATCHES)
    elif workload == "domain_backfill":
        m = gen.domain(inputs, seed, seed, BACKFILL_TX, 0, 0)
    else:
        m = gen.events(inputs, seed, EVENTS)
    with open(os.path.join(inputs, "manifest.tsv"), "w") as f:
        for d in m["deliveries"]:
            f.write(f"{d['name']}\t{d['path']}\t{d['rows']}\t{d['bytes']}\n")
    return m


def run_jvm(classes, workload, phase, work, seconds, trace, record, timeout):
    """Run the in-process runner once; return its result record."""
    cmd = jvm_cmd(classes, {
        "workload": workload, "phase": phase, "inputs": os.path.join(work, "inputs"),
        "work": work, "seconds": seconds, "trace": trace, "record": record,
        "cpus": len(os.sched_getaffinity(0))})  # what nproc reports
    log_path = os.path.join(work, f"jvm-{phase}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {workload} {phase} run timed out")
    line = next((ln for ln in reversed(out.splitlines())
                 if ln.startswith("PERFBENCH_RESULT ")), None)
    if p.returncode != 0 or line is None:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-6000:])
        raise SystemExit(f"perfbench: {workload} {phase} JVM exited {p.returncode}")
    return json.loads(line[len("PERFBENCH_RESULT "):])


def history_lake(classes, workload, work):
    """The lake after the history delivery's cold cycle, built once per
    build and history and kept under ``perfbench/.cache``. The history
    does not depend on --seed, so every run of the workload starts from
    the same lake; the cycle that builds it runs in its own JVM, so every
    timed cycle runs in a fresh one."""
    h = hashlib.sha256(os.path.basename(os.path.dirname(classes)).encode())
    hist = os.path.join(work, "inputs", "history")
    for d, _, files in sorted(os.walk(hist)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), hist).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    cache = os.path.join(HERE, ".cache")
    lake = os.path.join(cache, f"{workload}-{h.hexdigest()[:16]}")
    if os.path.isdir(lake):
        return lake
    for old in os.listdir(cache) if os.path.isdir(cache) else ():
        if old.startswith(workload + "-"):
            shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    res = run_jvm(classes, workload, "history", work, 0, 0, os.devnull, 170)
    if not res["correct"]:
        raise SystemExit(f"perfbench: {workload} history cycle failed: {res['failures']}")
    os.makedirs(cache, exist_ok=True)
    os.rename(os.path.join(work, "lake"), lake)
    return lake


def jvm_cmd(classes, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    work = args["work"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is pinned and pre-touched, so peak_rss_mb moves with
    # off-heap use (metaspace, code cache, direct buffers, threads)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + os.path.join(spark_jars(), "*"),
            "graft.perfbench.PerfBench"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def run_one(workload, seed, seconds, trace):
    """One benchmark run; returns the JVM's result record plus setup_s."""
    classes = build()
    work = os.path.join(HERE, ".work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"trace-{workload}-seed{seed}.json")
    try:
        t0_ms = time.time() * 1000
        manifest = make_inputs(workload, seed, os.path.join(work, "inputs"))
        if workload == "domain_incremental":
            shutil.copytree(history_lake(classes, workload, work), os.path.join(work, "lake"))
        res = run_jvm(classes, workload, "run", work, seconds, trace, record,
                      RUN_TIMEOUT_S.get(workload, 170))
        res["setup_s"] = (res["setup_end_ms"] - t0_ms) / 1000.0
        res["top1pct_leg_share"] = manifest.get("top1pct_leg_share")
        if trace and os.path.exists(record):
            with open(record) as f:
                rec = json.load(f)
            rec["seed"] = seed
            rec["top1pct_leg_share"] = manifest.get("top1pct_leg_share")
            rec["deliveries"] = [{k: d[k] for k in ("name", "rows", "bytes")}
                                 for d in manifest["deliveries"]]
            with open(record, "w") as f:
                json.dump(rec, f, indent=1, sort_keys=True)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(res, trace, spec):
    """The contract's last-line JSON object for one run, and the timings
    outside BENCHMARK.json that the run also measured (replay_s on
    domain_backfill)."""
    metrics, extra = {}, {}
    if trace:
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
    else:
        got = dict(res["metrics"], setup_s=res["setup_s"])
        for m in spec["end_to_end"]:
            if m["name"] in got:
                metrics[m["name"]] = {"value": got.pop(m["name"]), "unit": m["unit"]}
        extra = {k: {"value": v, "unit": "s"} for k, v in got.items()}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = bench_spec()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    ok = True
    seconds = spec["run_seconds"] if a.seconds is None else a.seconds
    for w in (WORKLOADS if a.all else (a.workload,)):
        res = run_one(w, a.seed, seconds, a.trace)
        for f in res.get("failures", []):
            sys.stderr.write(f"perfbench: {w}: {f}\n")
        rep, extra = report(res, a.trace, spec)
        ok = ok and rep["correct"]
        if a.all:
            print(f"{w}: correct={rep['correct']} attempted={rep['attempted']} "
                  f"failed={rep['failed']} failed_share={rep['failed'] / rep['attempted']:.3f}")
            for name, m in {**rep["metrics"], **extra}.items():
                print(f"  {name:>12} {m['value']:.6g} {m['unit']}")
        else:
            print(f"failed_share={rep['failed'] / rep['attempted']:.4f} "
                  f"top1pct_leg_share={res.get('top1pct_leg_share')}")
            print(json.dumps(rep))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
