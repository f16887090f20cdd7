#!/usr/bin/env python3
"""graft benchmark: one command, one cold JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--master local[4]] [--shuffle-partitions 4] [--heap 3g]

Run from the repository root. The first run in a checkout compiles
src/main/scala plus the harness under perfbench/scala with the Scala
compiler that ships in the Spark jars (no sbt); later runs reuse the
classes while the sources are unchanged. The run then

  1. generates the workload's inputs from --seed and the testdata
     copies under perfbench/data (perfbench/inputs.py);
  2. starts one cold JVM that runs the workload
     (perfbench/scala/perfbench/Harness.scala) straight from the compiled
     classes plus the Spark jars;
  3. checks the outputs the run left, outside the timed region
     (perfbench/checks.py);
  4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
     metrics with --trace 1, plus the attempted and failed operation
     counts. Metric names and units come from BENCHMARK.json.

Spark's jars are found through SPARK_HOME, else next to spark-submit on
PATH. Everything the run writes stays under .perfbench/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
    raise SystemExit("perfbench: no src/main/scala here; run from the root of a graft checkout")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark found; set SPARK_HOME")
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()
# the --add-opens list build.sbt passes to forked JVMs (Spark on JDK 17)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150
YOUNG = "768m"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                         recursive=True))
    return found + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                    recursive=True))


def build():
    """Compile once per distinct source tree; return the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
         "-cp", os.path.join(SPARK_JARS, "*"), "@" + os.path.join(tmp, "sources.txt")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    log(f"compiled in {time.time() - t0:.1f}s")
    os.rename(tmp, out)
    return classes


def make_inputs(workload, seed):
    """The directory the workload reads and its metadata, generated once
    per seed and version of perfbench/inputs.py."""
    with open(inputs.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    dest = os.path.join(WORK, "inputs", f"{workload}-{seed}-{version}")
    meta_path = dest + ".json"
    if not os.path.exists(meta_path):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        in_dir, meta = inputs.make(workload, seed, dest)
        meta["in_dir"] = os.path.relpath(in_dir, ROOT)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    with open(meta_path) as f:
        meta = json.load(f)
    return os.path.join(ROOT, meta["in_dir"]), meta


def jvm(classes, args, heap, run_dir, name, timeout):
    """Run the harness in a fresh JVM; return (launch epoch s, returncode)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation, so peak RSS tracks what the
    # program keeps, not how far the collector happened to grow the heap
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=400"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Harness"] + args
    with open(os.path.join(run_dir, f"{name}.out"), "w") as out, \
            open(os.path.join(run_dir, f"{name}.err"), "w") as err:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=run_dir)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    return t0, rc


def pinned(workload, seed):
    """Shapes and digest perfbench/pins.json records for this seed, if any."""
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(inputs.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--shuffle-partitions", default="4")
    ap.add_argument("--heap", default="3g")
    a = ap.parse_args()

    bench = spec()
    classes = build()
    in_dir, meta = make_inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "main")
        t0, rc = jvm(classes, [a.workload, in_dir, out, str(a.seconds), str(a.trace),
                               str(a.seed), a.master, a.shuffle_partitions],
                     a.heap, run_dir, "main", JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
            with open(os.path.join(run_dir, "main.err")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: harness JVM exited with {rc}")
        with open(os.path.join(out, "ready_ms")) as f:
            setup_s = int(f.read()) / 1000.0 - t0
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)

        # output checks, outside the timed region
        t_checks = time.time()
        verdicts = checks.run(a.workload, in_dir, out)
        pin = pinned(a.workload, a.seed)
        if pin is not None:
            verdicts["pinned_inputs"] = (
                pin == {"shapes": meta["shapes"], "digest": meta["digest"]},
                f"seed {a.seed} inputs {meta['digest'][:16]}, pinned {pin['digest'][:16]}")
        log(f"harness JVM {t_checks - t0:.1f}s (workload {res['total_ms'] / 1000.0:.1f}s), "
            f"checks {time.time() - t_checks:.1f}s")
        attempted = res["attempted"] + len(verdicts)
        failed = res["failed"] + sum(1 for ok, _ in verdicts.values() if not ok)
        for name, (ok, why) in sorted(verdicts.items()):
            log(f"check {name}: {'ok' if ok else 'FAILED'} {why}")
        correct = failed == 0

        if a.trace == 0:
            ops = [float("inf") if v is None else v for v in res["op_ms"]]
            window_s = res["window_ms"] / 1000.0
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": res["peak_rss_mb"],
                "cold_s": res["cold_ms"] / 1000.0,
                # no measured operation: a NaN marks the run incorrect below
                "op_p50_ms": statistics.median(ops) if ops else float("nan"),
                "items_per_s": res["items"] / window_s if window_s > 0 else float("nan"),
            }
            wanted = bench["end_to_end"]
            log(f"median of {len(ops)} operations in {window_s:.1f}s")
        else:
            # the run dir goes away below; the spans stay for analysis
            spans = os.path.join(WORK, "spans", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(os.path.join(out, "spans.json"), spans)
            log(f"spans written to {os.path.relpath(spans, ROOT)}")
            values = dict(res["layer"])
            wanted = bench["per_layer"]
            listed = {m["name"] for m in wanted}
            for name in sorted(set(values) - listed):
                log(f"layer {name} = {values[name]:.6g} (not in BENCHMARK.json)")
        metrics = {}
        for m in wanted:
            v = values.get(m["name"], 0.0)
            if v is None or v != v or v in (float("inf"), float("-inf")):
                correct = False
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        log(f"inputs {meta['digest'][:16]} {json.dumps(meta['shapes'])}")
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
