"""The three workloads: each runs one pdfspark entry point per pass and
checks its output against a reference computed outside the timed
region.

All three are closed-loop: one driver, ``local[N]``, and a pass starts
only after the previous one has returned its complete result.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# Order-insensitive digest of one document's span rows: the sum of
# their row hashes, so a missing, extra, changed or duplicated span
# changes it.
_DIGEST = 'sum(hash(kind::VARCHAR, text::VARCHAR, media_ref::VARCHAR, "offset"::INTEGER))'


def span_digests(sql: str, **tables) -> dict[int, int]:
    """doc_id -> span digest over the rows ``sql`` selects (columns
    doc_id, kind, text, media_ref, offset), run on DuckDB with
    ``tables`` registered under their names."""
    con = duckdb.connect()
    try:
        for name, t in tables.items():
            con.register(name, t)
        return {int(d): int(h) for d, h in con.execute(
            f"SELECT doc_id, {_DIGEST} FROM ({sql}) GROUP BY doc_id").fetchall()}
    finally:
        con.close()


def expected_span_digests(corpus_dir: str) -> dict[int, int]:
    """doc_id -> digest of the spans the round trip must reproduce: the
    synthesis that generation starts from (codec.synth_spans_py)."""
    from pdfspark.codec import synth_spans_py

    t = pq.read_table(os.path.join(corpus_dir, "documents.parquet"), columns=["doc_id", "text"])
    rows = [(did, *span) for did, text in zip(t.column("doc_id").to_pylist(),
                                              t.column("text").to_pylist())
            for span in synth_spans_py(str(did), text)]
    spans = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "kind": pa.array([r[1] for r in rows], pa.string()),
        "text": pa.array([r[2] for r in rows], pa.string()),
        "media_ref": pa.array([r[3] for r in rows], pa.string()),
        "offset": pa.array([r[4] for r in rows], pa.int32()),
    })
    return span_digests("SELECT * FROM spans", spans=spans)


def count_mismatches(expected: dict, actual: dict) -> int:
    """Keys (documents, pairs) missing, extra, or with another value."""
    return sum(1 for d in expected.keys() | actual.keys() if expected.get(d) != actual.get(d))


class Workload:
    name = ""
    profile = ""
    aux_layer = "scan"    # layer charged for jobs outside the compute queries
    codegen_layer = None  # layer charged for all codegen time (None: by input)
    kernel_sample = True
    warmup_passes = 1     # untimed, unchecked passes before the timed ones
    check_every_pass = True  # else only one untimed pass after them is checked

    def __init__(self, spark, corpus_dir: str, work_dir: str):
        self.spark, self.corpus_dir, self.work_dir = spark, corpus_dir, work_dir
        self.attempted = self.failed = 0

    def prepare(self) -> None:
        """Build the reference output (outside the timed region, while
        the warm-up passes run)."""

    def run_pass(self, checked: bool) -> float:
        """One closed-loop pass; returns its timed seconds. A checked
        pass compares its output with the reference after the timed
        region."""
        raise NotImplementedError

    def layer_extras(self, phase, passes: int) -> dict[str, float]:
        """Per-layer metrics only this workload has."""
        return {}


class RoundtripSmall(Workload):
    """load → salt_docs_by_size → generate_payloads("mixed") →
    extract_flat over many ~300-char documents, into a noop sink."""

    name, profile = "roundtrip_small", "small"
    check_every_pass = False  # checking collects the rows instead of the noop sink

    def prepare(self) -> None:
        self.expected = expected_span_digests(self.corpus_dir)

    def run_pass(self, checked: bool) -> float:
        from pdfspark.engine import roundtrip_rows

        t0 = time.perf_counter()
        df = roundtrip_rows(self.spark, self.corpus_dir, "mixed")
        if not checked:
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        rows = df.toArrow()
        elapsed = time.perf_counter() - t0
        actual = span_digests("SELECT * FROM rows", rows=rows)
        self.attempted += len(self.expected)
        self.failed += count_mismatches(self.expected, actual)
        return elapsed


class ExtractJobLong(Workload):
    """scale.run_checkpointed(sink="parquet") into a fresh out dir, then
    a resume rerun that must process no bucket, over a heavy-tailed
    corpus of long documents."""

    name, profile = "extract_job_long", "long"
    aux_layer = "sink"
    n_buckets = 4  # one commit group per pass (buckets_per_commit is 4)

    def __init__(self, *args):
        super().__init__(*args)
        self.resume_s: list[float] = []
        self.group_wall_ms: list[float] = []
        self.bytes_written: list[int] = []
        self.n_pass = 0

    def prepare(self) -> None:
        self.expected = expected_span_digests(self.corpus_dir)

    def run_pass(self, checked: bool) -> float:
        """A checked pass checks the spans and the lineage; the first
        one also reruns the job on its out dir, which must process
        nothing."""
        from pdfspark.scale import run_checkpointed

        out = os.path.join(self.work_dir, f"job{self.n_pass}")
        self.n_pass += 1
        t0 = time.perf_counter()
        run_checkpointed(self.spark, self.corpus_dir, out, n_buckets=self.n_buckets,
                         variant="mixed", sink="parquet")
        elapsed = time.perf_counter() - t0
        if checked:
            rerun = 0
            if not self.resume_s:
                t0 = time.perf_counter()
                rerun = run_checkpointed(self.spark, self.corpus_dir, out, n_buckets=self.n_buckets,
                                         variant="mixed", sink="parquet")
                self.resume_s.append(time.perf_counter() - t0)
                print(f"processed_this_run={rerun}", flush=True)
            self._check(out, rerun)
        shutil.rmtree(out, ignore_errors=True)
        return elapsed

    def _check(self, out: str, rerun: int) -> None:
        docs = ds.dataset(os.path.join(out, "spans"), format="parquet",
                          partitioning="hive").to_table(columns=["doc_id", "status", "spans"])
        digests = span_digests(
            "SELECT doc_id, s.* FROM (SELECT doc_id, unnest(spans) AS s FROM docs"
            " WHERE status = 'ok')", docs=docs)
        # a document that failed extraction counts under its status
        actual = {did: digests.get(did) if status == "ok" else status
                  for did, status in zip(docs.column("doc_id").to_pylist(),
                                         docs.column("status").to_pylist())}
        failed = count_mismatches(self.expected, actual)
        lineage = pq.read_table(os.path.join(out, "lineage")).to_pylist()
        done = {r["bucket"] for r in lineage if r["status"] == "done"}
        if done != set(range(self.n_buckets)) or rerun != 0:
            failed = len(self.expected)  # the job's resume contract is broken
        self.attempted += len(self.expected)
        self.failed += failed
        self.group_wall_ms += [r["wall_ms"] for r in lineage if r["status"] == "done"]
        self.bytes_written.append(sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs))

    def layer_extras(self, phase, passes: int) -> dict[str, float]:
        return {
            "sink.bytes_written": statistics.median(self.bytes_written),
            "sink.group_wall_ms.p50": statistics.median(self.group_wall_ms),
            "sink.group_wall_ms.max": max(self.group_wall_ms),
            "sink.resume_s": statistics.median(self.resume_s),
        }


class MinhashDedup(Workload):
    """ops.dedup.dedup_minhash_pairs over a corpus with a seeded share
    of near-duplicates; the Python kernel does no work here."""

    name, profile = "minhash_dedup", "neardup"
    codegen_layer = "ops.dedup"
    kernel_sample = False
    warmup_passes = 2  # its passes are short; one leaves the JIT still warming

    def __init__(self, *args):
        super().__init__(*args)
        self.verified: list[int] = []

    def prepare(self) -> None:
        import __spark_entry__

        sql = __spark_entry__.oracle_sql()["dedup_minhash_pairs"]
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            path = os.path.join(self.corpus_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            self.expected = {(int(a), int(b)): (int(i), int(u))
                             for a, b, i, u in con.execute(
                                 f"SELECT a_id, b_id, n_inter, n_union FROM ({sql})").fetchall()}
        finally:
            con.close()

    def run_pass(self, checked: bool) -> float:
        from pdfspark.ops.dedup import dedup_minhash_pairs

        t0 = time.perf_counter()
        rows = dedup_minhash_pairs(self.spark, self.corpus_dir).collect()
        elapsed = time.perf_counter() - t0
        self.verified.append(len(rows))
        if checked:
            actual = {(r.a_id, r.b_id): (r.n_inter, r.n_union) for r in rows}
            self.attempted += len(self.expected.keys() | actual.keys())
            self.failed += count_mismatches(self.expected, actual)
        return elapsed

    def layer_extras(self, phase, passes: int) -> dict[str, float]:
        # candidate pairs: output rows of the final distinct over
        # (a_id, b_id) in each execution; its partial twin emits more
        per_exec: dict[int, list[int]] = {}
        for n in phase.by_role("other"):
            rows = phase.value(n, "number of output rows")
            if (n.name == "HashAggregate" and "keys=[a_id" in n.simple
                    and "functions=[]" in n.simple and rows):
                per_exec.setdefault(n.execution, []).append(rows)
        candidates = sum(min(v) for v in per_exec.values()) / passes
        verified = statistics.median(self.verified)
        return {"dedup.candidate_pairs": candidates, "dedup.verified_pairs": verified,
                "dedup.verify_yield": verified / candidates if candidates else 0.0}


WORKLOADS = {w.name: w for w in (RoundtripSmall, ExtractJobLong, MinhashDedup)}
