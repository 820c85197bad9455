"""The traced run's per-layer metrics.

Every time in the layer table is executor time per pass, in ms, so
the rows sum to ``stage.executor_run_ms``:

Self times: a timed node (scan, whole-stage codegen, MapInPandas)
keeps its clock running while it pulls rows from the timed nodes below
it in the same stage, so its self time is its timer less theirs.

- ``scan``: parquet scan time, plus codegen self time over a scan.
- ``exchange``: shuffle write and fetch wait time, plus codegen self
  time over a shuffle read (row deserialization).
- ``arrow.gen`` / ``arrow.extract``: a MapInPandas node's self time,
  plus the codegen self time that converts its Arrow output to rows,
  less the codec or kernel share.
- ``codec`` and ``kernel.*``: rows processed by the stage times the
  serial mean cost per document (``kernel_sample``); when the serial
  estimate exceeds the measured stage, it is scaled down to fit.
- ``sink``: the executor time of the checkpointed job's bookkeeping
  queries (lineage, stats read-back, the resume rerun) plus task
  commit time.
- ``ops.dedup``: all codegen self time of the dedup queries (shingle
  explode, signature and bucket aggregates, verify joins).
- ``unattributed``: executor run time no row above claims (for the
  checkpointed job, mostly parquet encoding in the write tasks).

A Python worker runs concurrently with the task thread that feeds it,
so the ``arrow.*`` rows can overlap the JVM rows of the same task; on
tiny inputs ``unattributed`` can then read below zero.
"""

from __future__ import annotations

from .eventlog import Phase
from .kernel_sample import LAYERS as KERNEL_LAYERS

TABLE = ("scan", "exchange", "arrow.gen", "arrow.extract", *KERNEL_LAYERS,
         "ops.dedup", "sink", "unattributed")

ARROW_FIELDS = {
    "python_ms": "time to run Python workers",
    "bytes_sent": "data sent to Python workers",
    "bytes_received": "data returned from Python workers",
    "rows_out": "number of output rows",
    "boot_ms": "time to start Python workers",
    "init_ms": "time to initialize Python workers",
}

# name -> unit; every traced run reports all of them (0 where a
# workload has no such layer)
PER_LAYER = {
    "kernel.xref.parse_us.p50": "us", "kernel.xref.parse_us.p99": "us",
    "kernel.docmodel.pages_us.p50": "us", "kernel.docmodel.pages_us.p99": "us",
    "kernel.textops.interpret_us.p50": "us", "kernel.textops.interpret_us.p99": "us",
    "kernel.filters.decode_us.p50": "us", "kernel.filters.decode_us.p99": "us",
    "kernel.filters.decoded_bytes": "B",
    "kernel.extract_us.p50": "us", "kernel.extract_us.p99": "us",
    "kernel.error_docs": "count", "kernel.sample_docs": "count",
    "codec.build_pdf_us.p50": "us", "codec.build_pdf_us.p99": "us",
    "codec.payload_bytes": "B",
    **{f"arrow.{s}.{k}": ("ms" if k.endswith("_ms") else "count" if k == "rows_out" else "B")
       for s in ("gen", "extract") for k in ARROW_FIELDS},
    "exchange.count": "count", "exchange.bytes_written": "B",
    "exchange.write_ms": "ms", "exchange.records": "count",
    "exchange.partition_skew": "ratio",
    "scan.time_ms": "ms", "scan.bytes": "B", "scan.rows": "count",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "sink.write_s": "s", "sink.bytes_written": "B",
    "sink.group_wall_ms.p50": "ms", "sink.group_wall_ms.max": "ms",
    "sink.resume_s": "s",
    "stage.task_ms_skew": "ratio", "stage.gc_ms": "ms", "stage.executor_run_ms": "ms",
    "session.jvm_start_s": "s", "session.warmup_s": "s",
    "trace.overhead_frac": "ratio", "trace.passes": "count",
    **{f"layer.{name}_ms": "ms" for name in TABLE},
    "layer.attributed_frac": "ratio",
}


def _split(total: float, rows: int, per_doc_us: dict[str, float]) -> dict[str, float]:
    """Share ``total`` ms among layers by rows × serial mean cost,
    scaled down if the estimate exceeds the measured time."""
    est = {k: rows * v / 1000 for k, v in per_doc_us.items()}
    s = sum(est.values())
    scale = min(1.0, total / s) if s > 0 else 0.0
    return {k: v * scale for k, v in est.items()}


def table(ph: Phase, passes: int, kernel: dict | None, aux_layer: str,
          codegen_layer: str | None) -> dict[str, float]:
    """The per-pass layer table (``layer.*`` metrics) plus the node
    metrics it is built from."""
    compute = ph.python_execs or {n.execution for n in ph.nodes.values()}
    aux_execs = set(ph.stage_exec.values()) - compute
    rows: dict[str, float] = dict.fromkeys(TABLE, 0.0)
    out: dict[str, float] = {}

    for n in ph.by_role("scan"):
        if n.execution in compute:
            rows["scan"] += ph.self_ms(n) + ph.value(n, "metadata time")
    for n in ph.by_role("exchange"):
        if n.execution in compute:
            rows["exchange"] += (ph.value(n, "shuffle write time") / 1e6
                                 + ph.value(n, "fetch wait time"))
    for n in ph.by_role("wscg"):
        if n.execution in compute:
            rows[codegen_layer or n.input_role] += ph.self_ms(n)
    for n in ph.by_role("write"):
        if n.execution in compute:
            rows["sink"] += ph.value(n, "task commit time")
    rows[aux_layer] += ph.run_ms(aux_execs)

    layer_us = (kernel or {}).get("layer_us", {})
    gen = ph.by_role("arrow.gen")
    docs = sum(ph.value(n, "number of output rows") for n in gen)
    for stage, parts in (("gen", ("codec",)),
                         ("extract", tuple(k for k in KERNEL_LAYERS if k != "codec"))):
        nodes = ph.by_role(f"arrow.{stage}")
        for key, metric in ARROW_FIELDS.items():
            out[f"arrow.{stage}.{key}"] = sum(ph.value(n, metric) for n in nodes) / passes
        self_ms = sum(ph.self_ms(n) for n in nodes)
        shares = _split(self_ms, docs, {k: layer_us.get(k, 0.0) for k in parts})
        for k, v in shares.items():
            rows[k] += v
        rows[f"arrow.{stage}"] += self_ms - sum(shares.values())

    run_ms = ph.run_ms()
    rows["unattributed"] = run_ms - sum(rows.values())
    for name, v in rows.items():
        out[f"layer.{name}_ms"] = v / passes
    out["layer.attributed_frac"] = (1 - rows["unattributed"] / run_ms) if run_ms else 0.0

    ex = [n for n in ph.by_role("exchange") if n.execution in compute]
    written = [n for n in ex if ph.value(n, "shuffle bytes written") > 0]
    out["exchange.count"] = len(written) / passes
    out["exchange.bytes_written"] = sum(ph.value(n, "shuffle bytes written") for n in ex) / passes
    out["exchange.write_ms"] = sum(ph.value(n, "shuffle write time") for n in ex) / 1e6 / passes
    out["exchange.records"] = sum(ph.value(n, "shuffle records written") for n in ex) / passes
    out["exchange.partition_skew"] = ph.partition_skew()
    scans = [n for n in ph.by_role("scan") if n.execution in compute]
    out["scan.time_ms"] = sum(ph.value(n, "scan time") for n in scans) / passes
    out["scan.bytes"] = sum(ph.value(n, "size of files read") for n in scans) / passes
    out["scan.rows"] = sum(ph.value(n, "number of output rows") for n in scans) / passes
    out["stage.task_ms_skew"] = ph.task_ms_skew()
    out["stage.gc_ms"] = ph.gc_ms() / passes
    out["stage.executor_run_ms"] = run_ms / passes
    out["sink.write_s"] = ph.jobs_wall_s(aux_execs) / passes if aux_layer == "sink" else 0.0
    return out


def kernel_metrics(kernel: dict | None) -> dict[str, float]:
    if not kernel:
        return {}
    pct = kernel["pct"]
    out = {"kernel.error_docs": kernel["error_docs"], "kernel.sample_docs": kernel["docs"],
           "codec.payload_bytes": kernel["payload_bytes"],
           "kernel.filters.decoded_bytes": kernel["decoded_bytes"]}
    for name, key in (("kernel.xref.parse_us", "parse"), ("kernel.docmodel.pages_us", "pages"),
                      ("kernel.textops.interpret_us", "interpret"),
                      ("kernel.filters.decode_us", "decode"), ("kernel.extract_us", "extract"),
                      ("codec.build_pdf_us", "build_pdf")):
        if key in pct:
            out[f"{name}.p50"], out[f"{name}.p99"] = pct[key]
    return out
