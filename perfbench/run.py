"""graft's user-flow benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the program and the
benchmark (perfbench/build.py), generates the workload's inputs from the
seed, runs one benchmark JVM (Spark local[nproc], one client), checks the
outputs against computations made apart from the program, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the spans go to .bench_traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("social_graph", "crawl_curation", "text_admission", "vector_admission")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def cores():
    try:
        return max(len(os.sched_getaffinity(0)), 1)
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()

    import build
    import checks
    import gen

    t = time.time()
    classes = build.build(root)
    build_s = time.time() - t

    run = os.path.join(root, ".bench_runs", "%s-s%d-p%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run, ignore_errors=True)
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    proc = None
    try:
        t = time.time()
        sizes = gen.GENERATORS[a.workload](a.seed, os.path.join(run, "input"))
        gen_s = time.time() - t

        jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
        cmd = (["java", "-XX:-UsePerfData", "-Xmx3g",
                "-Djava.io.tmpdir=" + tmp,
                "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
                "-Dspark.sql.warehouse.dir=" + os.path.join(run, "warehouse", "sql"),
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.sql.streaming.checkpointLocation=" + os.path.join(run, "checkpoints")] +
               [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-cp", classes + os.pathsep + jars, "graftbench.Main",
                "--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run", run, "--cores", str(cores()),
                "--run-id", "%s-%d-%d" % (a.workload, a.seed, a.trace)])
        limit = 170 - (time.time() - T_START) + build_s
        with open(os.path.join(run, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(limit, 10))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: the benchmark JVM overran its time limit")
        if proc.returncode != 0:
            with open(os.path.join(run, "jvm.log")) as f:
                sys.stderr.write(f.read()[-8000:])
            raise SystemExit("perfbench: the benchmark JVM failed (exit %d)" % proc.returncode)
        with open(os.path.join(run, "result.json")) as f:
            res = json.load(f)
        m = res["metrics"]
        info = res["info"]
        m["setup_s"] = info["first_op_epoch_ms"] / 1000.0 - T_START - build_s - gen_s
        m["peak_rss_mb"] = info["peak_rss_kb"] / 1024.0
        verdict = checks.CHECKS[a.workload](run, res)
        correct = all(ok for _, ok, _ in verdict)
        for name, ok, detail in verdict:
            sys.stderr.write("[check] %-48s %s %s\n" % (name, "ok" if ok else "FAILED", detail))
        sys.stderr.write("[info] rounds=%s flow_s=%.3f flow_cpu_s=%.3f round_s=%.3f "
                         "round_cpu_s=%.3f build_s=%.1f gen_s=%.2f sizes=%s\n" % (
                             info.get("rounds"), m["flow_s"], m["flow_cpu_s"], m["round_s"],
                             m["round_cpu_s"], build_s, gen_s, json.dumps(sizes)))
        if info.get("failures"):
            sys.stderr.write("[info] failures: %s\n" % json.dumps(info["failures"]))
        s = spec()
        e2e = [(x["name"], x["unit"]) for x in s["end_to_end"]]
        if a.trace:
            if a.workload in [w["name"] for w in s["workloads"]]:
                names = [(x["name"], x["unit"]) for x in s["per_layer"]]
            else:  # a workload run by hand: every figure it has
                names = [(n, "") for n in m if n not in dict(e2e)]
            metrics = {n: {"value": float(m.get(n, 0.0)), "unit": u} for n, u in names}
            os.makedirs(os.path.join(root, ".bench_traces"), exist_ok=True)
            shutil.copy(os.path.join(run, "spans.json"), os.path.join(
                root, ".bench_traces", "%s-s%d.spans.json" % (a.workload, a.seed)))
        else:
            metrics = {n: {"value": float(m[n]), "unit": u} for n, u in e2e}
        print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_runs"))
        except OSError:
            pass


if __name__ == "__main__":
    main()
