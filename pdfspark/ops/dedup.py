"""Deduplication operators over the corpus `documents` table —
the training-data-pipeline layer (task brief: exact, MinHash+LSH,
SimHash, n-gram Jaccard; embedding near-dup lives in ops/ann.py).

Every operator is DataFrame/SQL except the MinHash signature, which
is one per-document Python stage (engine.per_doc) over the shingle
sets; each has a DuckDB oracle. Hashing is md5-based so both engines
agree bit-for-bit. At 10^12 docs:
- exact dedup is one hash-aggregate shuffle on the 16-byte digest
  (map-side partial aggregation; AQE coalesces the tail);
- MinHash signatures are a per-document map (no shuffle); banding
  keeps the candidate join linear: docs shuffle on (band, value)
  buckets instead of all-pairs — the only quadratic step is
  within-bucket, bounded by bucket size;
- exact set Jaccard (the MinHash verify and ngram_jaccard) is computed
  from each document's distinct shingle or trigram array: the counts
  are size(array_intersect(a, b)) and size(a) + size(b) - that, so no
  set is exploded into rows and joined to itself;
- SimHash is one narrow projection (no shuffle at all until the
  optional pair join).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..engine import load_documents, per_doc
from ..scale import spread_docs

N_HASHES = 64  # MinHash signature length (real-corpus scale, r2)
N_BANDS = 16  # bands of r = 4 rows → s-curve threshold ≈ (1/16)^(1/4) = 0.5
BUCKET_CAP = 32  # LSH buckets larger than this are skipped (degenerate
# keys — empty/boilerplate docs — would otherwise go quadratic in ONE
# task; cap² bounds the worst per-bucket pair count)
SIM_BITS = 16

# universal-hash MinHash: ONE md5 per shingle → 60-bit int h0, then
# N_HASHES affine transforms (aᵢ·h0 + bᵢ) mod P — 64 signatures for
# the price of one digest (vs 64 md5s per shingle). P = 2³¹-1 keeps
# every product < 2⁶² (BIGINT-safe in both Spark and DuckDB, which
# ERRORS on overflow rather than wrapping).
P_MINHASH = (1 << 31) - 1


def _minhash_seed(i: int) -> tuple[int, int]:
    a = (2654435761 * (i + 1)) % P_MINHASH
    b = (40503 * i + 17) % P_MINHASH
    return a, b


# ---------------------------------------------------------------------------
# 1. Exact dedup: hash-groupBy on content fingerprint
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster_id = min doc_id sharing md5(text); is_dup marks
    non-representatives. One shuffle on the digest."""
    docs = load_documents(spark, sf_dir).select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    return docs.select(
        "doc_id",
        "fp",
        F.min("doc_id").over(w).alias("cluster_id"),
    ).withColumn("is_dup", F.col("doc_id") != F.col("cluster_id"))


DEDUP_EXACT_SQL = """
SELECT doc_id, fp, cluster_id, doc_id != cluster_id AS is_dup
FROM (
  SELECT doc_id, md5(text) AS fp,
         min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# 2. MinHash + LSH banding
# ---------------------------------------------------------------------------

# word 3-shingles; short docs fall back to the whole text as 1 shingle.
# NB: the words array MUST be a projected column — referencing
# split(text,' ') inside the transform lambda re-evaluates the split
# per element (Catalyst does not hoist subexpressions out of lambdas),
# turning shingling O(words²) per doc
_SHINGLES_SPARK = """
CASE WHEN size(w) < 3 THEN array(text)
ELSE transform(
  sequence(0, size(w) - 3),
  i -> concat_ws(' ', element_at(w, i + 1),
                      element_at(w, i + 2),
                      element_at(w, i + 3)))
END
"""

_SHINGLES_DUCK = """
CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      for i in range(1, len(w) - 1)]
END
"""


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each document's DISTINCT word 3-shingles as one
    array — the per-document set both MinHash passes start from."""
    pre = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    return pre.select("doc_id", F.array_distinct(F.expr(_SHINGLES_SPARK)).alias("sh"))


def _hex_prefix_to_int(expr: str, n: int = 15) -> str:
    """Portable md5-prefix → BIGINT: identical expression text runs in
    Spark SQL and DuckDB (instr/substr/md5, 1-based). 15 hex chars =
    60 bits < 2⁶³."""
    # the CAST is load-bearing: Spark types instr() as INT, and terms
    # with power < 16⁸ get INT literals too — INT×INT then overflows
    # int32 under ANSI mode (DuckDB's instr is already BIGINT)
    digits = [
        f"(CAST(instr('0123456789abcdef', substr(md5({expr}), {k + 1}, 1))"
        f" AS BIGINT) - 1) * {16 ** (n - 1 - k)}"
        for k in range(n)
    ]
    return "(" + " + ".join(digits) + ")"


_SEEDS = np.array([_minhash_seed(i) for i in range(N_HASHES)], dtype=np.int64)


def _signature_bands(did, sh) -> list:
    if sh is None:  # NULL text
        return []
    # 8 hex digits (32 bits) is plenty of entropy for a minhash seed
    # value; the DuckDB oracle computes the same h0 with the portable
    # _hex_prefix_to_int chain
    h0 = np.array(
        [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % P_MINHASH for s in sh],
        dtype=np.int64,
    )
    sig = ((_SEEDS[:, :1] * h0 + _SEEDS[:, 1:]) % P_MINHASH).min(axis=1)
    return [
        (did, b, hashlib.md5("#".join(map(str, vals)).encode()).hexdigest())
        for b, vals in enumerate(sig.reshape(N_BANDS, -1))
    ]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_val): universal-hash minhash — h0 =
    md5-prefix int per shingle, hᵢ = min (aᵢ·h0 + bᵢ) mod P; bands of
    r = N_HASHES/N_BANDS values hashed together. One per-document stage
    over :func:`shingle_sets`, so the shingling rule keeps its one
    Spark definition.

    The stage reads text rows spread by doc_id (scale.spread_docs, the
    policy for every per-document stage): its one Exchange fans the
    documents out pseudo-randomly, so the Python stage does not run in
    the 1-2 tasks of a single-split scan. Nothing keeps two large
    documents apart."""
    sets = shingle_sets(spread_docs(docs.select("doc_id", "text")))
    return per_doc(
        sets, _signature_bands, "doc_id bigint, band int, band_val string", ("doc_id", "sh")
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs_df(load_documents(spark, sf_dir))


def minhash_pairs_df(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs (same band bucket) verified with exact
    shingle-set Jaccard ≥ 0.5. Counts (not float division) are emitted
    so the oracle comparison is integer-exact.

    Buckets holding more than ``BUCKET_CAP`` docs are SKIPPED before
    pair expansion: one degenerate key (empty/boilerplate text) would
    otherwise put O(bucket²) pairs in a single task.

    Plan: ONE groupBy(band, band_val) builds each bucket's sorted
    member list (the cap is a size() check on it), and a < b candidate
    pairs expand in-array inside that partitioning; the distinct pairs
    are checkpointed, since both the id set and the verify read them.
    The verify computes both counts from each candidate document's
    shingle set: n_inter = size(array_intersect(a, b)) and n_union =
    size(a) + size(b) - n_inter — no shingle explode, no shuffle join.
    The sets are built once from the document scan, semi-joined to
    the broadcast candidate id set, and broadcast to both pair
    endpoints (the second broadcast reuses the first Exchange). Every
    broadcast here is bounded by the candidate budget Σ_buckets cap²,
    orders of magnitude below the corpus; the sets broadcast also
    carries each candidate document's shingle strings, so its size is
    that id count times the candidates' shingle-set bytes. The verify
    reads ``docs`` as given: only the signature stage spreads its input,
    so no full-corpus repartition feeds the verify."""
    # one Exchange on (band, band_val): bucket membership, cap, and
    # i<j pair expansion all inside the aggregation's partitioning
    cand = (
        minhash_signatures(docs)
        .groupBy("band", "band_val")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= BUCKET_CAP))
        .select(
            F.explode(
                F.expr(
                    # ids is sorted+distinct (one row per doc per
                    # band), so slice(i+2..) enumerates exactly the
                    # a < b pairs of the bucket
                    "flatten(transform(ids, (a, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    " b -> struct(a AS a_id, b AS b_id))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.b_id")
        .distinct()
        # tiny (bounded by Σ cap²/bucket); materialize eagerly so the
        # id set and the verify don't each re-run the whole signature
        # and bucket lineage
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .union(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    sets = F.broadcast(shingle_sets(docs.join(F.broadcast(cand_ids), "doc_id")))
    sa, sb = sets.alias("sa"), sets.alias("sb")
    n_inter = F.size(F.array_intersect("sa.sh", "sb.sh"))
    n_union = F.size("sa.sh") + F.size("sb.sh") - n_inter
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("a_id"))
        .join(sb, F.col("sb.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            n_inter.cast("bigint").alias("n_inter"),
            n_union.cast("bigint").alias("n_union"),
        )
        .where(F.col("n_inter") * 2 >= F.col("n_union"))  # jaccard ≥ 0.5
    )


def _cc_star(docs: DataFrame, pairs: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — a public algorithm): converges in O(log n) rounds even on
    adversarial long-chain graphs, where plain propagation needs
    O(diameter).

    Per round over the undirected edge set E:
      large-star(u): m = min(Γ(u) ∪ {u}); re-point every LARGER
        neighbor v > u at m — emit (v, m);
      small-star(u): orient edges toward the smaller endpoint, then
        m = min(smaller neighbors ∪ {u}); emit (v, m) for each smaller
        neighbor and (u, m).
    Fixed point: a star forest where every non-root points at its
    component min. Convergence check: the canonical edges (u > v, v
    the parent) already form that forest — no child has two parents
    and no parent is itself a child — so the round that builds the
    forest is the last one. Each half-round is one groupBy shuffle +
    one join; edge frames are eagerly localCheckpoint-ed per round. Returns (labels, rounds)."""

    def canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = canon(e)  # (u = larger, v = smaller)
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        repointed = oriented.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        roots = m.select(F.col("u"), F.col("m").alias("v"))
        return repointed.union(roots)

    edges = canon(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    ).localCheckpoint(eager=True)
    rounds = 0
    while True:
        rounds += 1
        if rounds > 64:  # provably O(log n) — 64 means a logic bug,
            raise RuntimeError("cc_star failed to converge")  # not data
        edges = canon(small_star(large_star(edges))).localCheckpoint(eager=True)
        two_parents = edges.groupBy("u").count().where("count > 1").select("u")
        parent_is_child = edges.select(F.col("v").alias("p")).join(
            edges, F.col("p") == F.col("u"), "left_semi"
        )
        if two_parents.union(parent_is_child).isEmpty():
            break
    # star forest: non-roots point at the component min. It has at
    # most one row per candidate document, the bound the verify's
    # broadcasts rely on, so the labels join broadcasts it and never
    # shuffles the corpus scan
    parent = F.broadcast(
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("p"))
    )
    labels = docs.select("doc_id").join(parent, "doc_id", "left").select(
        "doc_id", F.coalesce("p", F.col("doc_id")).alias("lab")
    )
    return labels, rounds


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash pair graph, labels = min doc_id per component; every
    corpus document gets a row (singletons are their own cluster).
    This is the step that turns pairwise dedup into "keep one
    representative per group" at corpus scale.

    The components come from :func:`_cc_star`, which needs O(log n)
    rounds even on long-chain graphs (tests/test_ops.py)."""
    docs = load_documents(spark, sf_dir)
    pairs = minhash_pairs_df(docs).select("a_id", "b_id")
    labels, _rounds = _cc_star(docs, pairs)
    return labels.select(
        "doc_id",
        F.col("lab").alias("cluster_id"),
        (F.col("doc_id") != F.col("lab")).alias("is_dup"),
    )


def _clusters_oracle_sql() -> str:
    """Connected components in DuckDB: recursive reachability from
    each node over the (symmetric) verified-pair edge set, component
    label = min reachable doc_id."""
    pairs = _minhash_oracle_sql()
    return f"""
WITH RECURSIVE pairs AS (
{pairs}
),
edges AS (
  SELECT a_id AS a, b_id AS b FROM pairs
  UNION ALL
  SELECT b_id AS a, a_id AS b FROM pairs
),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc_id
)
SELECT doc_id, min(lab) AS cluster_id,
       doc_id != min(lab) AS is_dup
FROM reach GROUP BY doc_id
"""


def _bands_cte_sql() -> str:
    """The shared DuckDB CTE chain documents → shingles → universal-
    hash minhash signatures → (doc_id, band, band_val) rows; consumed
    by the pairs oracle AND the skipped-bucket accounting oracle."""
    hmins = ",\n         ".join(
        "min(({a} * h0 + {b}) % {p}) AS h{i}".format(
            a=_minhash_seed(i)[0], b=_minhash_seed(i)[1], p=P_MINHASH, i=i
        )
        for i in range(N_HASHES)
    )
    r = N_HASHES // N_BANDS
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('#', "
        + ", ".join(f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r))
        + ")) AS band_val FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(
    {_SHINGLES_DUCK.replace('text', 'documents.text')}
  )) AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) documents
),
sh0 AS (
  SELECT doc_id, {_hex_prefix_to_int('sh', 8)} % {P_MINHASH} AS h0 FROM sh
),
sig AS (
  SELECT doc_id,
         {hmins}
  FROM sh0 GROUP BY doc_id
),
bands AS (
{band_rows}
)"""


def _minhash_oracle_sql() -> str:
    return f"""{_bands_cte_sql()},
capped AS (
  SELECT doc_id, band, band_val FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, band_val) <= {BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a_id, c.b_id, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id AND sa.sh = sb.sh
  GROUP BY c.a_id, c.b_id
)
SELECT i.a_id, i.b_id, CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(na.n + nb.n - i.n_inter AS BIGINT) AS n_union
FROM inter i
JOIN sizes na ON na.doc_id = i.a_id
JOIN sizes nb ON nb.doc_id = i.b_id
WHERE i.n_inter * 2 >= na.n + nb.n - i.n_inter
"""


def dedup_skipped_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-cap ACCOUNTING for minhash_pairs_df (r2 advisor: the cap
    silently drops degenerate buckets — at corpus scale users need the
    drop on the record). One row per band: total buckets, buckets over
    the cap (skipped before the self-join), and the doc-membership
    rows those buckets held — the denominator for 'how much of the
    corpus was never pair-checked in this band'. Same single shuffle
    key as the pair join; tiny output (N_BANDS rows)."""
    bstat = (
        minhash_signatures(load_documents(spark, sf_dir))
        .groupBy("band", "band_val")
        .agg(F.count("*").alias("n"))
    )
    over = F.col("n") > BUCKET_CAP
    return (
        bstat.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum(over.cast("int")).cast("bigint").alias("skipped_buckets"),
            F.sum(F.when(over, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("docs_in_skipped"),
        )
        .select(F.col("band").cast("int").alias("band"), "n_buckets",
                "skipped_buckets", "docs_in_skipped")
    )


def _skipped_oracle_sql() -> str:
    return f"""{_bands_cte_sql()},
bstat AS (
  SELECT band, band_val, count(*) AS n FROM bands GROUP BY band, band_val
)
SELECT CAST(band AS INT) AS band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN n > {BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS skipped_buckets,
       CAST(sum(CASE WHEN n > {BUCKET_CAP} THEN n ELSE 0 END) AS BIGINT)
         AS docs_in_skipped
FROM bstat GROUP BY band
"""


# ---------------------------------------------------------------------------
# 3. SimHash
# ---------------------------------------------------------------------------

# portable hex→int: identical expression text works in Spark SQL and
# DuckDB (instr / substr / md5 exist in both with 1-based indexing)
def _hex4_to_int(expr: str) -> str:
    digits = [
        f"(instr('0123456789abcdef', substr(md5({expr}), {k + 1}, 1)) - 1) * {16 ** (3 - k)}"
        for k in range(4)
    ]
    return "(" + " + ".join(digits) + ")"


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over word frequencies: bit j is the sign of
    Σ_w count(w) · (±1 per bit j of h(w)). One explode + one groupBy
    (map-side combinable sums) — no joins, no Python."""
    docs = load_documents(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    # conv(hex, 16, 10) == the digit-weighted chain and is cheaper per
    # word (r9); the DuckDB oracle keeps the portable _hex4_to_int text
    h = F.expr("CAST(conv(substr(md5(w), 1, 4), 16, 10) AS INT)").alias("h")
    words = words.select("doc_id", "c", h)
    bit_sums = [
        F.sum(
            F.when((F.col("h").bitwiseAND(1 << j)) > 0, F.col("c")).otherwise(
                -F.col("c")
            )
        ).alias(f"s{j}")
        for j in range(SIM_BITS)
    ]
    agg = words.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(SIM_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("int").alias("simhash"))


def _simhash_oracle_sql() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN c ELSE -c END) AS s{j}"
        for j in range(SIM_BITS)
    )
    sim = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIM_BITS))
    return f"""
WITH words AS (
  SELECT doc_id, w, count(*) AS c, {_hex4_to_int("w")} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
),
agg AS (
  SELECT doc_id,
         {bit_sums}
  FROM words GROUP BY doc_id
)
SELECT doc_id, CAST({sim} AS INT) AS simhash FROM agg
"""


# ---------------------------------------------------------------------------
# 4. n-gram (character trigram) Jaccard on adjacent-doc pairs
# ---------------------------------------------------------------------------


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram Jaccard for each (2k, 2k+1) doc pair — the
    pairwise-verify primitive in isolation (the LSH pipeline above
    supplies candidate pairs at scale). Each document's distinct
    trigrams are one array, and both counts come from the pair's two
    arrays, as in the MinHash verify."""
    grams = load_documents(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 1)),"
                " i -> substring(text, i, 3))"
            )
        ).alias("g"),
    )
    a = grams.where(F.col("doc_id") % 2 == 0).alias("a")
    b = grams.where(F.col("doc_id") % 2 == 1).alias("b")
    # a NULL text's set is [NULL]: it counts toward its size but, as a
    # NULL join key, never toward an intersection
    n_inter = F.size(F.array_intersect(F.array_compact("a.g"), "b.g"))
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        n_inter.cast("bigint").alias("n_inter"),
        (F.size("a.g") + F.size("b.g") - n_inter).cast("bigint").alias("n_union"),
    )


NGRAM_JACCARD_SQL = """
WITH grams AS (
  SELECT DISTINCT doc_id,
         unnest([substr(text, i, 3) for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS g
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, count(*) AS n_inter
  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1 AND a.g = b.g
  WHERE a.doc_id % 2 = 0
  GROUP BY a.doc_id
)
SELECT na.doc_id AS a_id, nb.doc_id AS b_id,
       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       CAST(na.n + nb.n - coalesce(i.n_inter, 0) AS BIGINT) AS n_union
FROM sizes na
JOIN sizes nb ON nb.doc_id = na.doc_id + 1
LEFT JOIN inter i ON i.a_id = na.doc_id
WHERE na.doc_id % 2 = 0
"""


BOILER_MIN_DOCS = 2  # a chunk in ≥ this many DISTINCT docs is boilerplate


def chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate accounting (the C4/FineWeb
    line-dedup shape, over the engine's 80-char chunk contract since
    the corpus carries no newlines): a chunk appearing in ≥
    BOILER_MIN_DOCS distinct docs is boilerplate; per doc emit chunk
    counts and the integer-exact boilerplate ratio.

    Skew-proof plan (r5): a genuine boilerplate chunk in 10^9 docs is
    by definition a hot join key, so the full chunks⋈freq shuffle join
    is the wrong shape at scale.  Instead: distinct (doc, chunk) →
    chunk-frequency groupBy (hot keys collapse to ONE row each via
    map-side partial aggregation), FILTER to the boilerplate keys
    (small by construction — each needs ≥ BOILER_MIN_DOCS distinct
    docs, so |keys| ≤ corpus_chunks / BOILER_MIN_DOCS and in practice
    tiny), BROADCAST that set, and compute both n_chunks and n_boiler
    in one per-doc aggregation over the broadcast left join — no
    shuffle join on chunk at all, one Exchange on doc_id (even).  If
    the boiler-key set ever outgrew the broadcast threshold, the
    fallback is the shuffle join + AQE skew split; the plan-shape
    pytest pins BroadcastHashJoin / zero SortMergeJoin."""
    docs = load_documents(spark, sf_dir)
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(text, '(?s).{1,80}', 0)")
        ).alias("chunk"),
    )
    boiler_keys = (
        chunks.distinct()
        .groupBy("chunk")
        .agg(F.count("*").alias("n_docs_with_chunk"))
        .where(F.col("n_docs_with_chunk") >= BOILER_MIN_DOCS)
        .select("chunk", F.lit(1).alias("is_boiler"))
    )
    return (
        chunks.join(F.broadcast(boiler_keys), "chunk", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)).cast("long"))
            .alias("n_boiler"),
        )
        .select(
            "doc_id",
            F.col("n_chunks").cast("bigint"),
            F.col("n_boiler").cast("bigint"),
            (F.col("n_boiler") * 1000 / F.col("n_chunks"))
            .cast("bigint")
            .alias("boiler_ratio_x1000"),
        )
    )


CHUNK_BOILERPLATE_SQL = f"""
WITH c AS (
  SELECT doc_id,
         substr(text, CAST(i * 80 + 1 AS INT), 80) AS chunk
  FROM (
    SELECT doc_id, text,
           unnest(range(CAST(ceil(length(text)/80.0) AS BIGINT))) AS i
    FROM documents
  )
),
freq AS (
  SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_chunk
  FROM c GROUP BY chunk
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.n_docs_with_chunk >= {BOILER_MIN_DOCS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST(sum(CASE WHEN f.n_docs_with_chunk >= {BOILER_MIN_DOCS}
                     THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         AS boiler_ratio_x1000
FROM c JOIN freq f ON f.chunk = c.chunk
GROUP BY c.doc_id
"""


# --- incremental (cross-snapshot) dedup -------------------------------------

SNAP_MOD = 2  # "previous snapshot" = docs with doc_id % SNAP_MOD == 0


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup (r5): the re-crawl shape — a
    new crawl re-fetches everything, and ingest must mark documents
    whose normalized-content fingerprint already exists in the prior
    snapshot (here: the doc_id % 2 == 0 half stands in for the prior
    crawl's fingerprint table).  The decision runs ON FINGERPRINTS —
    a 16-hex join key, never the text — so at 10^12 docs the known-set
    side is a slim (fp) table a real pipeline would bucket by fp or
    broadcast-threshold; the join key is uniform by construction (md5).
    Emits (doc_id, fp16, is_known) for the full new crawl."""
    docs = load_documents(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    fps = docs.select(
        "doc_id", F.substring(F.md5(norm), 1, 16).alias("fp16")
    )
    known = (
        fps.where(F.col("doc_id") % SNAP_MOD == 0)
        .select("fp16")
        .distinct()
        .withColumn("known", F.lit(1))
    )
    return fps.join(known, "fp16", "left").select(
        "doc_id",
        "fp16",
        F.coalesce(F.col("known"), F.lit(0)).cast("int").alias("is_known"),
    )


DEDUP_INCREMENTAL_SQL = rf"""
WITH fps AS (
  SELECT doc_id,
         substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16)
           AS fp16
  FROM documents
),
known AS (
  SELECT DISTINCT fp16 FROM fps WHERE doc_id % {SNAP_MOD} = 0
)
SELECT f.doc_id, f.fp16,
       CAST(CASE WHEN k.fp16 IS NULL THEN 0 ELSE 1 END AS INT) AS is_known
FROM fps f LEFT JOIN known k ON k.fp16 = f.fp16
"""


SUBSTR_W = 8  # duplicated-span window width, in words

# SUBSTR_W-word sliding windows (stride 1); docs shorter than the
# window contribute their whole text as one window. Same projected-`w`
# rule as the shingle expr above: Catalyst does not hoist the split
# out of the lambda. Both the Spark expr and the SQL twin are built
# from SUBSTR_W so the knob is the single source of truth.
_SUBSTR_WIN_SPARK = f"""
CASE WHEN size(w) < {SUBSTR_W} THEN array(text)
ELSE transform(
  sequence(0, size(w) - {SUBSTR_W}),
  i -> concat_ws(' ', {", ".join(
      f"element_at(w, i + {j + 1})" for j in range(SUBSTR_W))}))
END
"""


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span accounting — the hashed-window approximation of
    exact-substring train-data dedup (Lee et al. 2022 use suffix
    arrays; the distributed-scale equivalent is fixed-width window
    fingerprints, which this implements): every 8-word sliding window
    is fingerprinted, a window whose fingerprint occurs in ≥2 windows
    corpus-wide is a duplicated span, and each doc reports its
    distinct-window total, duplicated-window count, and the integer
    per-mille duplicated fraction (the curation cut key).

    Scale plan: `array_distinct` dedups windows per doc MAP-SIDE, so
    the only rows shuffled are (doc_id, fp) pairs — never window text.
    Two shuffles: a count-over-fp window (uniform md5 key; a
    boilerplate mega-span is the one skew risk — AQE skew split
    handles it, and the count never materializes a list), then the
    per-doc rollup. Catching duplication WITHIN a doc is rep_signals'
    job; this op is the cross-corpus signal, so fingerprints are
    distinct per doc before counting."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id", "text", F.split("text", " ").alias("w")
    )
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_SUBSTR_WIN_SPARK))).alias("win"),
    ).select("doc_id", F.md5("win").alias("fp"))
    wfp = Window.partitionBy("fp")
    flagged = pairs.withColumn("nocc", F.count("*").over(wfp))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("nocc") >= 2, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
        .withColumn(
            "dup_permille", F.expr("(1000 * n_dup_windows) DIV n_windows")
        )
    )


DEDUP_SUBSTRING_SQL = f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
),
wl AS (
  SELECT doc_id,
         CASE WHEN len(w) < {SUBSTR_W} THEN [text]
         ELSE [{" || ' ' || ".join(
             ["w[i]"] + [f"w[i+{j}]" for j in range(1, SUBSTR_W)])}
               for i in range(1, len(w) - {SUBSTR_W - 2})] END AS lst
  FROM d
),
wins AS (SELECT DISTINCT doc_id, md5(unnest(lst)) AS fp FROM wl),
nocc AS (SELECT fp, count(*) AS nocc FROM wins GROUP BY fp)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n.nocc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       CAST((1000 * sum(CASE WHEN n.nocc >= 2 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS dup_permille
FROM wins w JOIN nocc n USING (fp)
GROUP BY w.doc_id
"""


def queries():
    return {
        "dedup_exact": dedup_exact,
        "dedup_minhash_pairs": dedup_minhash_pairs,
        "dedup_clusters": dedup_clusters,
        "dedup_skipped_buckets": dedup_skipped_buckets,
        "dedup_simhash": dedup_simhash,
        "ngram_jaccard": ngram_jaccard,
        "chunk_boilerplate": chunk_boilerplate,
        "dedup_incremental": dedup_incremental,
        "dedup_substring": dedup_substring,
    }


def oracles():
    return {
        "dedup_exact": DEDUP_EXACT_SQL,
        "dedup_minhash_pairs": _minhash_oracle_sql(),
        "dedup_clusters": _clusters_oracle_sql(),
        "dedup_skipped_buckets": _skipped_oracle_sql(),
        "dedup_simhash": _simhash_oracle_sql(),
        "ngram_jaccard": NGRAM_JACCARD_SQL,
        "chunk_boilerplate": CHUNK_BOILERPLATE_SQL,
        "dedup_incremental": DEDUP_INCREMENTAL_SQL,
        "dedup_substring": DEDUP_SUBSTRING_SQL,
    }
