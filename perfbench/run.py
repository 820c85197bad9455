"""pdfspark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run generates the workload's corpus
from the seed, starts a ``local[N]`` session (N = usable cores, at
most 4), runs the workload's warm-up passes while it builds the
reference output, then repeats closed-loop passes for ``--seconds``
(at least two), checks them, and prints, as its last line, one
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` reruns the passes in a second session with the Spark event log on
and reports the per-layer table. Everything it writes stays under
``.perfbench_work/`` in the repository root and is removed at exit
(except the compiled C-extension cache).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CORES = min(4, len(os.sched_getaffinity(0)))
SIZES = {"roundtrip_small": 20000, "extract_job_long": 640, "minhash_dedup": 3000}
MIN_PASSES = 2
SETUP_SAMPLES = 2
KERNEL_SAMPLE_S = 2.0


def _since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_env(work: Path) -> None:
    """Run-environment pins; must precede the first pyspark import."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["XDG_CACHE_HOME"] = str(WORK / "cache")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        f"--conf spark.local.dir={tmp} pyspark-shell")
    sys.path.insert(0, str(ROOT))
    os.chdir(work)


def start_session(event_log: Path | None = None):
    """get_spark on local[CORES], then one warm-up job that boots the
    Python workers of a generate → extract pipeline and imports the
    kernel (and its C extensions) in them."""
    from pyspark import SparkContext

    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        props = SparkContext._jvm.System
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", event_log.as_uri()),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            props.setProperty(k, v)
    from pdfspark import engine
    from pdfspark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{CORES}]")
    t1 = time.perf_counter()
    docs = spark.range(0, 16 * CORES, 1, CORES).selectExpr(
        "id AS doc_id", "repeat('warm up the worker pool ', 8) AS text")
    engine.extract_flat(engine.generate_payloads(docs, "mixed", ensure=False)) \
        .write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its live descendants (JVM,
    Python worker daemon and workers)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM")), 0)
        except OSError:
            continue
    return kb / 1024


def host_facts(corpus: dict) -> dict:
    import duckdb
    import pyspark

    head = ROOT / ".git" / "HEAD"
    commit = None
    if head.exists():
        ref = head.read_text().strip()
        ref_file = ROOT / ".git" / ref[5:] if ref.startswith("ref: ") else None
        commit = ref_file.read_text().strip() if ref_file and ref_file.exists() else ref
    return {"nproc": os.cpu_count(), "cores_used": CORES,
            "python": sys.version.split()[0], "spark": pyspark.__version__,
            "duckdb": duckdb.__version__, "commit": commit, "corpus": corpus}


def timed_passes(wl, seconds: float) -> list[float]:
    times, t_end = [], time.perf_counter() + seconds
    while len(times) < MIN_PASSES or time.perf_counter() < t_end:
        times.append(wl.run_pass(checked=wl.check_every_pass))
    return times


def probe_setup() -> int:
    """One set-up sample in a fresh process: process start to a
    session with a warmed worker pool."""
    work = WORK / f"probe-{os.getpid()}"
    try:
        pin_env(work)
        spark, jvm_s, warm_s = start_session()
        setup_s = _since_process_start()
        stop_session(spark)
        print(json.dumps({"setup_s": setup_s, "jvm_start_s": jvm_s, "warmup_s": warm_s}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _probe() -> float:
    res = subprocess.run([sys.executable, str(Path(__file__).resolve()), "--probe-setup"],
                         cwd=ROOT, capture_output=True, text=True, timeout=150)
    if res.returncode != 0:
        raise RuntimeError(f"set-up probe failed: {res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])["setup_s"]


def run(args) -> dict:
    work = WORK / f"{args.workload}-{os.getpid()}"
    pin_env(work)
    from perfbench import corpus, kernel_sample, layers
    from perfbench.eventlog import EventLog
    from perfbench.workloads import WORKLOADS

    spark, jvm_s, warm_s = start_session()
    setup = [_since_process_start()]
    cls = WORKLOADS[args.workload]
    n_docs = max(8, int(SIZES[args.workload] * args.scale))
    corpus_dir = str(work / "corpus")
    desc = corpus.generate(cls.profile, n_docs, args.seed, corpus_dir)
    wl = cls(spark, corpus_dir, str(work))
    with ThreadPoolExecutor(1) as pool:
        reference = pool.submit(wl.prepare)
        for _ in range(cls.warmup_passes):  # JIT, codegen and worker caches
            wl.run_pass(checked=False)
        reference.result()
    times = timed_passes(wl, args.seconds / 2 if args.trace else args.seconds)
    if not cls.check_every_pass:
        wl.run_pass(checked=True)
    rss = peak_rss_mb()
    metrics: dict[str, tuple[float, str]] = {}
    if args.trace:
        spark.stop()  # the JVM stays up: the event log is set on it
        spark, _, _ = start_session(event_log=work / "eventlog")
        wl.spark = spark
        wl.run_pass(checked=False)  # untagged: the new context's first pass
        spark.sparkContext.setLocalProperty("perfbench.phase", "timed")
        traced = timed_passes(wl, args.seconds / 2)
        spark.sparkContext.setLocalProperty("perfbench.phase", None)
        stop_session(spark)
        kernel = None
        if cls.kernel_sample:
            import pyarrow.parquet as pq

            t = pq.read_table(f"{corpus_dir}/documents.parquet", columns=["doc_id", "text"])
            ids, texts = t.column("doc_id").to_pylist(), t.column("text").to_pylist()
            docs = [(ids[i], texts[i]) for i in kernel_sample.sample_ids(n_docs, 2000, args.seed)]
            kernel = kernel_sample.run(docs, KERNEL_SAMPLE_S)
        (log,) = list((work / "eventlog").iterdir())
        phase = EventLog(str(log)).phase("timed")
        values = dict.fromkeys(layers.PER_LAYER, 0.0)
        values.update(layers.table(phase, len(traced), kernel, cls.aux_layer, cls.codegen_layer))
        values.update(layers.kernel_metrics(kernel))
        values.update(wl.layer_extras(phase, len(traced)))
        values["session.jvm_start_s"], values["session.warmup_s"] = jvm_s, warm_s
        values["trace.overhead_frac"] = statistics.median(traced) / statistics.median(times) - 1
        values["trace.passes"] = len(traced)
        metrics = {k: (v, layers.PER_LAYER[k]) for k, v in values.items()}
    else:
        stop_session(spark)
        setup += [_probe() for _ in range(SETUP_SAMPLES - 1)]
        metrics = {
            "docs_per_s": (n_docs / statistics.median(times), "docs/s"),
            "setup_s": (statistics.median(setup), "s"),
            "peak_rss_mb": (rss, "MB"),
        }
    print("perfbench host: " + json.dumps(host_facts(desc)), flush=True)
    print(f"perfbench {args.workload}: passes={len(times)} "
          f"pass_s={[round(t, 3) for t in times]} setup_s={[round(s, 3) for s in setup]} "
          f"failed_frac={wl.failed / max(wl.attempted, 1)}", flush=True)
    return {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": int(wl.attempted),
        "failed": int(wl.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's document count (smoke tests)")
    ap.add_argument("--probe-setup", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not (ROOT / "pdfspark").is_dir():
        print(f"perfbench: no pdfspark package under {ROOT}", file=sys.stderr)
        return 2
    if args.probe_setup:
        return probe_setup()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK / f"{args.workload}-{os.getpid()}", ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
