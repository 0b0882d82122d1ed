"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload logscan --seed 1 --seconds 4 --trace 0

Run from the repository root. Builds graft from source (see build.py),
generates the workload's inputs from the seed, runs the JVM side
(perfbench.Main) on them and prints, as its last line, one JSON object:
`correct`, `attempted`, `failed` and `metrics` - the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Everything the
run writes stays under `.bench_build/perfbench`; the traced run's spans
are written to `.bench_build/perfbench/run/spans.json`.

Workloads (see BENCHMARK.json for why each one is there):
  logscan  batch access-log analytics: a wide typed parse to a noop sink
           and a narrow read_httpd_log SQL aggregate over the same files
  dedup    near-duplicate removal over a parquet corpus
  stream   closed-loop log ingest: one writer renames one file at a time
           into a watched directory, a sessionizing query commits it
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
# Input sizes depend on nothing but the workload; the seed picks the bytes.
# They keep one run (a cold JVM, 3 set-ups, warm-up and timed operations)
# under a minute on 4 cores.
SIZES = {
    "logscan": dict(lines_total=100_000, files=8),
    "dedup": dict(docs=2_000, files=8),
    # 3 set-ups and 6 warm-up operations take one file each, a traced run
    # warms up on one more, and the timed loop takes at least 20
    "stream": dict(files=44, lines_per_file=1_000),
}
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    try:
        classpath = build.classpath(build.build(root, work))
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    started = time.monotonic()  # a run ends within 3 minutes of its build

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "input")
    t0 = time.perf_counter()
    manifest = gen.generate(args.workload, data, args.seed, **SIZES[args.workload])
    gen_s = time.perf_counter() - t0

    archive_flags, new_archive = build.class_archive(work, args.workload)
    record_path = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}"] + archive_flags
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--data", data, "--work", run_dir,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(CORES), "--out", record_path])
    log_path = os.path.join(run_dir, "jvm.log")
    # Spark binds to the loopback interface and keeps its files in the run
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root, env=env)
        try:
            proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: the JVM ran out of time; see {log_path}")
    if proc.returncode != 0 or not os.path.exists(record_path):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"perfbench: the JVM failed with code {proc.returncode}")
    if new_archive and os.path.exists(new_archive + ".new"):
        os.replace(new_archive + ".new", new_archive)

    with open(record_path) as fh:
        record = json.load(fh)
    result, failures = metrics.evaluate(args.workload, record, manifest, args.trace == 1, gen_s)
    if args.trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(record["spans"], fh)
    for where, errs in failures:
        print(f"perfbench: check failed ({where}): {'; '.join(errs)}")
    print(f"perfbench: workload={args.workload} seed={args.seed} cores={CORES} "
          f"ops={result['attempted']} failed={result['failed']} gen_s={gen_s:.2f} "
          f"probes={json.dumps(record['probes'])}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
