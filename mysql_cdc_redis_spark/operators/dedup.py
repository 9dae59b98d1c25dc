"""Deduplication operators for training-data pipelines (EXT; SURVEY.md §7
Phase 4): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB story):
* exact dedup — one hash-shuffle on a 16-byte digest, never on raw text.
* n-gram Jaccard — the *exact* path: the DEFAULT routes ADAPTIVELY on
  the exact Σ df² candidate-volume statistic (one cheap 1-row
  aggregate): when the naive inverted-index join's candidate volume
  fits the per-pass disk budget it runs the naive join (near-linear on
  near-uniform-df corpora, and ~2.7× cheaper there than the ranking
  shuffles of the filtered form — measured round 4); otherwise it runs
  the SSJoin/PPJoin join (df-ordered prefix + size + positional
  filters, array-intersection verify, pair-space slicing when a
  Σ df_prefix² statistic predicts even the filtered join would
  out-spill the disk).  The naive join's unconditional form has a
  MEASURED single-box abort at sf10 (SCALING.md round 3); the
  unconditionally-filtered form costs 2.5-2.7× on benign corpora
  (round 4) — the statistic buys both safety and the benign-case wall.
  `ngram_jaccard_pairs_naive` / `ngram_jaccard_pairs_prefix` remain
  the explicit single-route forms.
* MinHash+LSH — k=16 signature from a universal integer hash family
  h_i(x) = (a_i·x + b_i) mod p over the 32-bit-reduced shingle hash
  (pure JVM integer arithmetic, no per-hash md5), b=4 bands × r=4 rows;
  candidates share a band digest (equi-join), then exact Jaccard is
  verified *candidate-driven* — common-shingle counts are computed only
  for candidate pairs, so verification cost is O(candidates · shingles
  per doc), independent of corpus pair count.  For DEDUP consumption
  prefer `minhash_lsh_dedup_edges` (star-per-bucket candidates —
  output linear in near-dup group size, same connected components);
  `minhash_lsh_pairs` enumerates ALL ≥-threshold bucket pairs, which
  is quadratic in group size on boilerplate-heavy corpora.
* SimHash — 16-bit signature from token-frequency-weighted bit votes;
  all bit arithmetic in JVM expressions.

Everything is built-in DataFrame ops — no Python in the hot path — and
every operator has a DuckDB oracle twin in plans/llm.py reproducing the
identical hash constants."""

from __future__ import annotations

import atexit
import logging
import os
import random
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5long, norm_text
from .scale import auto_bucket_count, ensure_min_parallelism
from .staging import reap_staged, stage_parquet, staged_bytes
from .textstats import fingerprint

_LOG = logging.getLogger(__name__)


# the module's staging/caching discipline is documented in
# operators/staging.py: stage RETURNED relations, scope-persist
# TRANSIENT ones around an eager result materialization
_stage_parquet = stage_parquet

# Universal-hash family for MinHash: h_i(x) = (a_i*x + b_i) mod HASH_P
# over x < 2^32; constants < 2^30 so a_i*x stays below 2^62 (no int64
# overflow in either engine).  Drawn deterministically (seed 42) and
# shared verbatim with the oracle SQL.
HASH_P = 4_294_967_311  # prime > 2^32
_rng = random.Random(42)
HASH_A = [_rng.randrange(1, 1 << 30) for _ in range(64)]
HASH_B = [_rng.randrange(0, 1 << 30) for _ in range(64)]

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group documents by content fingerprint; keeper = min id per group.
    Returns (fp, keeper, n_copies).  Shuffles 16-byte digests, not
    documents."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingles(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, sh).

    The token array is materialized as a column BEFORE the gram
    expression: element_at over a column reference evaluates the split
    once per row, whereas inlining the split expression would re-execute
    it per gram element (~100× per row).  element_at is 1-based —
    mirrors the oracle's DuckDB list indexing.

    The source is repartitioned up to the default parallelism when its
    scan collapsed to fewer splits (ensure_min_parallelism): the
    normalize/split/gram/md5 chain is the compute-heavy stage of every
    dedup operator, and a single-row-group parquet input would otherwise
    pin it to 1-2 cores (measured 11.6 → 2.9 s at sf1)."""
    docs = ensure_min_parallelism(docs)
    toks_df = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(norm_text(F.col(text_col)), " ").alias("toks"),
    ).where(F.size("toks") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), (i + j).cast("int")) for j in range(n)]
        ),
    )
    return toks_df.select("doc_id", F.explode(F.array_distinct(grams)).alias("sh"))


def shingle_hashes(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, h): distinct 60-bit shingle hashes — 8-byte join keys
    instead of shingle strings, the shuffle-friendly representation."""
    return shingles(docs, n, id_col, text_col).select(
        "doc_id", md5long(F.col("sh")).alias("h")
    ).distinct()


def _jaccard(col_common, col_a, col_b):
    return F.round(col_common / (col_a + col_b - col_common), 6)


# Broadcast the per-doc sizes relation into the naive joins' pair-size
# lookups when the corpus has at most this many docs (~30 MB of
# (id, long) rows at the cap — comfortably under executor broadcast
# memory on any sizing, and never shipped to more executors than the
# corpus itself occupies).  Beyond it the joins fall back to shuffles —
# at 100-TB doc counts a broadcast would be a driver/network abort.
_SIZES_BROADCAST_MAX_DOCS = 4_000_000


def _certified_pairs_by_h(sh: DataFrame) -> DataFrame:
    """Candidate (a, b, n_common) generation for the ROUTED naive join:
    collect each shingle's doc-id list (one shuffle of the shingle
    relation), then explode the ordered pairs MAP-SIDE — versus the
    inverted-index self-join's TWO full shuffles plus a sort-merge join
    producing the identical Σ df² pre-dedup rows.  The double explode
    streams through whole-stage codegen straight into the partial
    aggregate: candidate rows are never materialized.

    SAFE ONLY under the adaptive router's certificate: Σ_h df(h)² ≤
    budget bounds every single df by √budget (~17.3k at the default
    300M), so no collect_list buffer exceeds ~140 KB — which is exactly
    why the UNROUTED naive form must not use this plan (one
    megafrequent shingle would build a corpus-sized array in a single
    aggregation buffer)."""
    byh = sh.groupBy("h").agg(F.collect_list("doc_id").alias("ids"))
    # The double explode amplifies each (h, ids) row by |ids|² — Σ df²
    # candidate rows from a relation whose SHUFFLE bytes are tiny — and
    # AQE's partition coalescing sizes the groupBy output by those
    # shuffle bytes, blind to the amplification: at sf1 the 270M-row
    # explode+partial-aggregate ran as ~32 fat tasks whose per-task
    # hash tables spilled unevenly (measured r10: walls 10.3-22.3 s
    # across flush-cold passes — the documented ±25-47% variance class
    # of this query).  Fanning the small list relation out to 4× the
    # core count before the explode keeps each partial table in
    # execution memory: 7.3-8.9 s, spread ±10%.  Skipped when the
    # session's shuffle width already exceeds the fan (a real cluster's
    # shuffle.partitions), so this never REDUCES parallelism at scale,
    # and when that width is not an integer (e.g. ``auto`` on some
    # platforms), since then the platform sizes the shuffle itself.
    spark = sh.sparkSession
    fan = spark.sparkContext.defaultParallelism * 4
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        width = None
    if width is not None and width < fan:
        byh = byh.repartition(fan)
    return (
        byh.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _attach_pair_sizes(pairs: DataFrame, sizes: DataFrame, n_docs: int) -> DataFrame:
    """Join a (a, b, ...) pairs relation to per-doc sizes as n_a/n_b.
    Broadcast-small corpora take map-side hash joins (no re-shuffle of
    the pairs relation — measured as the naive route's residual vs the
    round-3 form); big ones take the plain shuffled joins."""
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b"))
    if n_docs <= _SIZES_BROADCAST_MAX_DOCS:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return pairs.join(sa, "a").join(sb, "b")


def _verify_jaccard_pairs(
    cand: DataFrame,
    sh: DataFrame,
    sizes: DataFrame,
    threshold: float,
    sh_b: DataFrame | None = None,
    sizes_b: DataFrame | None = None,
) -> DataFrame:
    """Candidate-driven exact-Jaccard verify shared by the n-gram and
    MinHash paths: n_common per (a,b) via cand × A-shingles matched
    against B-shingles on (b, h) — cost ∝ |cand| · shingles/doc, never
    all-pairs.  Pass sh_b/sizes_b when the two pair sides come from
    DIFFERENT relations (incremental new-vs-corpus joins)."""
    if sh_b is None:
        sh_b = sh
    if sizes_b is None:
        sizes_b = sizes
    a_sh = sh.select(F.col("doc_id").alias("a"), "h")
    b_sh = sh_b.select(F.col("doc_id").alias("b"), "h")
    common = (
        cand.join(a_sh, "a")
        .join(b_sh, ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes_b.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .withColumn("jaccard", _jaccard(F.col("n_common"), F.col("n_a"), F.col("n_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _verify_jaccard_pairs_arrays(
    cand: DataFrame,
    arrs: DataFrame,
    threshold: float,
    arrs_b: DataFrame | None = None,
) -> DataFrame:
    """Array-intersection exact-Jaccard verify: candidate pairs join the
    per-doc SORTED shingle-hash arrays (one row per doc), and
    ``n_common = size(array_intersect(hs_a, hs_b))`` — all JVM.  Ships
    each pair's two arrays through the join exactly once, ~(n_a+n_b)
    longs per pair, with NO exploded per-shingle intermediates: the
    explode-join verify (`_verify_jaccard_pairs`) writes Σ_pairs n_a
    rows into TWO exchanges, measured at sf10 as ~30 GB of transient
    shuffle per slice — the disk driver of the round-4 abort.  Output
    identical (arrays are distinct per doc, so array_intersect counts
    exactly the common shingles)."""
    if arrs_b is None:
        arrs_b = arrs
    a = arrs.select(
        F.col("doc_id").alias("a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a")
    )
    b = arrs_b.select(
        F.col("doc_id").alias("b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.join(a, "a")
        .join(b, "b")
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn("jaccard", _jaccard(F.col("n_common"), F.col("n_a"), F.col("n_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def shingle_arrays(sh: DataFrame) -> DataFrame:
    """(doc_id, hs, n_sh): per-doc sorted distinct shingle-hash array +
    size — the verify-friendly representation (one row per doc)."""
    return sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count(F.lit(1)).alias("n_sh"),
    )


def _route_on_sigma_df2(
    docs: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    max_join_rows: int,
    op_name: str,
    naive_fn,
    prefix_fn,
) -> DataFrame:
    """Shared adaptive-routing core for the exact set-similarity joins
    (`ngram_jaccard_pairs`, `containment_pairs`): compute the exact
    candidate-volume statistic Σ_h df(h)² with ONE pass over the shingle
    relation, then hand the relation to whichever route wins.

    The shingle relation's lifecycle differs by route, on purpose:

    * The stat pass PERSISTs it (MEMORY_AND_DISK — eviction spills to
      local disk, never recomputes), so the statistic aggregate doubles
      as cache population.  Parquet-staging it here instead costs a full
      encode+write of the corpus's shingle set BEFORE the route is even
      known — measured at sf1 as 13.9s of a 35s total on the benign
      route (round 5), most of the regression vs the round-3 persist
      form.
    * NAIVE route (benign corpora): the routing decision doubles as a
      SAFETY CERTIFICATE — Σ df² ≤ budget bounds every single df by
      √budget (~17k at the default 300M), so the naive fn may collect
      per-h doc-id lists and explode candidate pairs MAP-SIDE without
      any unbounded-aggregation risk (see `_certified_pairs_by_h`).
      The fn materializes its verified pairs eagerly while the relation
      is cached; the cache is released in the ``finally``.  Nothing
      stays persisted after the call (pinned by
      tests/test_dedup_hygiene.py), and the returned scan is
      eviction-proof by construction.
    * PREFIX route (heavy corpora): the cached relation is COPIED to
      parquet staging — a sequential write from cache — because the
      prefix path's slice-sort pressure is exactly the regime where
      relying on executor storage memory was measured at 3-4× wall
      amplification at sf10 (round 4); the cache is then released
      IMMEDIATELY (the staged scan is the only thing the prefix fn
      reads), before any heavy join runs.  The ``finally`` unpersist is
      the idempotent exception backstop.
    """
    sh = shingle_hashes(docs, n, id_col, text_col).persist()
    try:
        sigma_df2 = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(F.sum(F.col("df") * F.col("df")).alias("s"))
            .first()["s"]
        ) or 0
        if sigma_df2 <= max_join_rows:
            _LOG.info(
                "%s: route=naive sigma_df2=%d budget=%d",
                op_name, sigma_df2, max_join_rows,
            )
            return naive_fn(sh)
        _LOG.info(
            "%s: route=prefix sigma_df2=%d budget=%d",
            op_name, sigma_df2, max_join_rows,
        )
        staged_sh = _stage_parquet(sh, f"{op_name}_sh")
        sh.unpersist()
        return prefix_fn(staged_sh)
    finally:
        sh.unpersist()


_SLICE_CAP = 256


def _auto_slice_count(
    stat: int,
    max_join_rows: int,
    slice_concurrency: int,
    op_name: str = "ngram_jaccard_pairs_prefix",
) -> int:
    """Slice count for the pair-space-sliced prefix join:
    ``ceil(stat / max_join_rows)`` — the budget bounds each slice's
    pre-dedup join rows, INDEPENDENT of how many slices run
    concurrently.  Peak in-flight volume is ``conc × max_join_rows``
    pre-dedup rows, a deliberate trade: the measured spill footprint is
    ~1 GB per 300 M pre-dedup rows (the r3 single-pass abort spilled
    ~60 GB for 18.4 B rows), so 2-3 full-size slices in flight cost a
    few GB of transient disk, while DIVIDING the budget by the
    concurrency (the round-5 first attempt) doubles the slice count and
    with it the dominant per-slice fixed cost — the full prefix-index
    shuffle every slice repays — measured at sf10 as eating all but
    5.6% of the overlap gain (SCALING.md round 5).  Capped at
    ``_SLICE_CAP`` with an explicit warning when the cap binds — the
    repo's no-silent-caps convention (round-4 advice): a silently-bound
    cap would mean each slice still exceeds the very disk budget the
    guard exists for."""
    del slice_concurrency  # kept in the signature for call-site clarity
    want = -(-int(stat) // max_join_rows)
    if want > _SLICE_CAP:
        _LOG.warning(
            "%s: slice cap binds (want %d slices for "
            "pre-dedup candidate stat=%d, running %d) — per-slice join "
            "volume exceeds max_join_rows=%d by ~%.1fx; expect heavier "
            "spill per pass",
            op_name, want, int(stat), _SLICE_CAP, max_join_rows,
            want / _SLICE_CAP,
        )
    return min(_SLICE_CAP, max(1, want))


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_slices: int | None = None,
    max_join_rows: int = 300_000_000,
    slice_concurrency: int = 2,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Exact near-dup pairs by n-gram Jaccard ≥ threshold, with PREFIX
    FILTERING (the SSJoin/PPJoin principle — Chaudhuri et al. ICDE'06,
    Xiao et al. WWW'08; standard public set-similarity-join technique):

    sort each doc's shingles in one global order (ascending document
    frequency, rarest first), keep only the first
    ``|A| − ceil(t·|A|) + 1`` as the doc's *prefix*; any pair with
    J ≥ t must share a prefix shingle, so the inverted-index self-join
    runs over prefixes only.  The frequent shingles that dominate the
    naive join's Σ df² candidate blow-up sit at the END of the order and
    never enter the index — candidate generation cost drops from
    Σ df(h)² over ALL shingles to Σ df_prefix(h)² over rare ones.
    Survivors get the exact candidate-driven verify, so the OUTPUT is
    identical to the naive join (the DuckDB oracle for
    `dedup_ngram_jaccard` computes exactly that naive form).

    When to prefer which: on NATURAL text, frequent shingles (common
    phrases, boilerplate) make the naive join's Σ df² explode — prefix
    filtering is the exact-join scale path there, and THIS form is what
    `ngram_jaccard_pairs` (the default) routes to.  On corpora whose
    shingle frequencies are near-uniform (e.g. random/synthetic text,
    where df ≈ 1-2), the naive join is already near-linear and the two
    extra shuffles here (df ranking + candidate verify) cost more than
    they save — `ngram_jaccard_pairs_naive` exists for that case, and
    MinHash-LSH remains the approximate path for either corpus.

    SLICED execution (the out-of-disk guard): even prefix-filtered, a
    corpus where every shingle's df is uniformly high (e.g. factor-k
    replication: df≈k everywhere, so the rarest-first order buys
    nothing) still writes Σ df_prefix² join rows before the dedup —
    measured to exceed a single box's disk at sf10.  When the exact
    pre-dedup row count Σ df_prefix² (one cheap 1-row aggregate over
    the staged prefix relation — the same bounded driver-side-statistic
    license as the PQ codebook) exceeds ``max_join_rows``, the PAIR
    SPACE is partitioned by ``pmod(hash(a), n_slices)``: slice i joins
    only prefixes of docs whose slice key is i against the full prefix
    index, verifies its candidates, and writes its verified pairs to a
    per-slice parquet subdirectory.  Every (a,b) pair lands in exactly
    one slice (the key is a pure function of a, which is unique per
    pair), so the union needs no dedup and equals the single-pass
    output; peak spill drops by K.  The key hashes the id rather than
    using ``pmod(a, K)`` directly so NON-NUMERIC id columns slice
    correctly — pmod on a string id is NULL, which would silently drop
    every such doc's pairs (round-4 advice; pinned by the string-id
    case in tests/test_advanced_properties.py).

    Up to ``slice_concurrency`` slices run CONCURRENTLY through a small
    thread pool: Spark's scheduler interleaves the slice jobs, so the
    shuffle-cleanup / stage tail of slice i overlaps the compute of
    slice i+1 instead of serializing (round-4 verdict item 6 — the 62
    sequential sf10 slices left measurable idle gaps).  The row budget
    is PER SLICE — peak in-flight volume is conc × max_join_rows
    pre-dedup rows, a measured ~1 GB of transient spill per 300 M rows,
    i.e. a few GB for 2-3 slices — NOT divided by the concurrency:
    halving the per-slice budget doubles the slice count and repays the
    dominant per-slice fixed cost (the full prefix-index shuffle) once
    per extra slice, measured at sf10 to eat all but 5.6% of the
    overlap gain (SCALING.md round 5).  On a single CPU-saturated box
    the overlap buys only the inter-stage gaps; on a cluster the same
    slicing bounds per-stage shuffle volume and slices pipeline across
    executors.  K=1 (the common Zipfian case) runs one single-pass
    plan over the staged relations.  ``n_slices`` forces a count
    (tests); None = auto from the statistic.

    The prefix and array relations are STAGED as per-invocation parquet
    (`_stage_parquet`), not persisted: cache eviction under the slice
    joins' sort pressure was measured at 3-4× wall amplification at
    sf10, and staging also leaves no cached RDDs behind in a long-lived
    session.  The staging cost is paid only on the heavy route — the
    adaptive default sends benign corpora to the naive join, which
    stages only the shingle relation.
    """
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    # _sh: an already-staged shingle relation handed down by the
    # adaptive router; standalone calls stage their own — the relation
    # feeds the df ranking (twice: freq + the join back) and the verify
    # arrays, so an unstaged plan would redo the shingle distinct-shuffle
    # three times
    sh = _sh if _sh is not None else _stage_parquet(
        shingle_hashes(docs, n, id_col, text_col), "ngram_prefix_sh"
    )

    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = (
        sh.join(freq, "h")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # pos (rank in the doc's full df-sorted shingle list) and n_sh ride
    # along for the PPJoin size/positional filters below.  Staged: both
    # sides of the candidate self-join (and the slicing statistic) read
    # the prefix relation.
    prefix = _stage_parquet(
        ranked.filter(
            F.col("pos") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        ).select("doc_id", "h", "pos", "n_sh"),
        "ngram_prefix",
    )
    arrs = _stage_parquet(shingle_arrays(sh), "ngram_arrs")
    # nothing below reads the shingle relation again (prefix + arrs are
    # the working set) — reap its multi-GB staging dir now rather than
    # at process exit (round-5 advice: long-lived drivers accumulate)
    reap_staged(sh)

    if n_slices is None:
        # exact pre-dedup row count of the prefix self-join — one cheap
        # 1-row aggregate over the staged prefix scan
        stat = (
            prefix.groupBy("h")
            .agg(F.count(F.lit(1)).alias("dfp"))
            .agg(F.sum(F.col("dfp") * F.col("dfp")).alias("s"))
            .first()["s"]
        ) or 0
        n_slices = _auto_slice_count(
            int(stat), max_join_rows, slice_concurrency,
            op_name="ngram_jaccard_pairs_prefix",
        )

    def _candidates(pa: DataFrame, pb: DataFrame) -> DataFrame:
        """Prefix equi-join on h with the PPJoin SIZE and POSITIONAL
        filters applied MAP-SIDE, before any shuffle/sort touches the
        joined rows (Xiao et al. WWW'08):

        * size: J ≥ t forces t·n_a ≤ n_b ≤ n_a/t;
        * positional: a match at ranks (pos_a, pos_b) bounds the total
          overlap by 1 + min(n_a − pos_a, n_b − pos_b), which must reach
          α = ⌈t/(1+t)·(n_a+n_b)⌉.  The pair's FIRST common shingle in
          the global order has the minimal positions, so its bound ≥ the
          true overlap — a true pair always survives through that row
          (exactness), while late-position matches of false pairs are
          dropped before the expensive distinct.
        """
        alpha = F.ceil(
            F.lit(threshold) / (1 + threshold) * (F.col("n_a") + F.col("n_b"))
        )
        return (
            pa.join(pb, "h")
            .where(
                (F.col("a") < F.col("b"))
                & (F.col("n_b") * F.lit(1.0) >= F.lit(threshold) * F.col("n_a"))
                & (F.col("n_a") * F.lit(1.0) >= F.lit(threshold) * F.col("n_b"))
                & (
                    1
                    + F.least(
                        F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
                    )
                    >= alpha
                )
            )
            .select("a", "b")
            .distinct()
        )

    pa_all = prefix.select(
        F.col("doc_id").alias("a"), "h", F.col("pos").alias("pos_a"),
        F.col("n_sh").alias("n_a"),
    )
    pb_all = prefix.select(
        F.col("doc_id").alias("b"), "h", F.col("pos").alias("pos_b"),
        F.col("n_sh").alias("n_b"),
    )

    if n_slices <= 1:
        # single-pass plan over the staged (eviction-proof) relations;
        # staging dirs are reaped at process exit by _stage_parquet
        return _verify_jaccard_pairs_arrays(_candidates(pa_all, pb_all), arrs, threshold)

    # sliced: each pass covers exactly the pairs whose smaller id a has
    # pmod(hash(a), n_slices) == i — a partition of the pair space, so
    # the slice outputs concatenate to the single-pass result with no
    # dedup.  The prefix relation is re-staged as a BUCKETED-BY-h table
    # (one hash-shuffle, paid once): both sides of every slice's
    # candidate join then scan bucket-aligned data, so the K slice jobs
    # run EXCHANGE-FREE SortMergeJoins — previously the full prefix
    # index was hash-exchanged once per slice, the dominant per-slice
    # fixed cost (measured round 5: halving slices to "save" exchanges
    # beat doubling them by 3.3%).  The pa slice filter rides the scan
    # (predicate on pmod(hash(doc_id))); the full-relation re-scan per
    # slice is a cheap columnar read, the EXCHANGE was the cost.
    import gc
    import time as _time
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    # registered BEFORE any slice work so an exception mid-loop cannot
    # leak a large partial pairs directory (round-4 advice); rmtree is
    # idempotent, so the per-invocation registration is harmless
    final_dir = tempfile.mkdtemp(prefix="ngram_prefix_pairs_")
    atexit.register(shutil.rmtree, final_dir, ignore_errors=True)
    # per-invocation unique name: concurrent sessions share the
    # warehouse directory but never a table
    tbl = f"ngram_prefix_bkt_{uuid.uuid4().hex[:12]}"
    try:
        # bucket count sized from the staged prefix relation's bytes
        # (auto_bucket_count: ~256 MB/bucket, power of two, clamped) —
        # a cluster-scale prefix index gets thousands of buckets, this
        # box's gets the floor; repartition by h aligned to the bucket
        # count so each write task emits ~1 bucket file (not tasks ×
        # buckets small files)
        n_buckets = auto_bucket_count(staged_bytes(prefix), default=64)
        (
            prefix.repartition(n_buckets, "h")
            .write.bucketBy(n_buckets, "h")
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        # the bucketed table supersedes the staged prefix dir — free it
        # before the slice loop instead of at process exit
        reap_staged(prefix)
        prefix_b = spark.table(tbl)
        slice_key = F.pmod(F.hash(F.col("doc_id")), F.lit(n_slices))
        pb_st = prefix_b.select(
            F.col("doc_id").alias("b"), "h", F.col("pos").alias("pos_b"),
            F.col("n_sh").alias("n_b"),
        )

        def _run_slice(i: int) -> None:
            pa_i = prefix_b.filter(slice_key == i).select(
                F.col("doc_id").alias("a"), "h", F.col("pos").alias("pos_a"),
                F.col("n_sh").alias("n_a"),
            )
            cand_i = _candidates(pa_i, pb_st)
            # per-slice subdirectory: concurrent writers must not share
            # one output path (the FileOutputCommitter's _temporary dir
            # is per-path); the final read globs the subdirs
            _verify_jaccard_pairs_arrays(cand_i, arrs, threshold).write.mode(
                "overwrite"
            ).parquet(os.path.join(final_dir, f"s{i:05d}"))
            # nudge shuffle-file cleanup as each slice job retires: drop
            # the python refs to this slice's DAG, let py4j release the
            # JVM objects, then ask the ContextCleaner (via JVM GC) to
            # delete their shuffle files while other slices compute
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            _time.sleep(0.2)

        workers = max(1, min(int(slice_concurrency), n_slices))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            # list() drains the iterator so any slice exception propagates
            list(pool.map(_run_slice, range(n_slices)))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        # the slice jobs have all retired (pool shutdown waits) — only
        # final_dir must outlive the call; reap the verify arrays now
        reap_staged(arrs)
    return spark.read.parquet(os.path.join(final_dir, "s*"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_join_rows: int = 300_000_000,
) -> DataFrame:
    """Exact near-dup pairs by n-gram Jaccard ≥ threshold — the DEFAULT
    entry point, routing ADAPTIVELY on the exact candidate-volume
    statistic Σ_h df(h)² (the naive inverted-index join's pre-dedup row
    count — one shingling pass + one 1-row aggregate):

    * Σ df² ≤ ``max_join_rows`` → the NAIVE join.  Its candidate volume
      provably fits the same per-pass disk budget the prefix path
      enforces per slice, and on near-uniform-df corpora it skips the
      prefix form's df-ranking windows and relation staging — measured
      2.5-2.7× cheaper at sf0.1/sf1 (round 4, SCALING.md).
    * Σ df² > ``max_join_rows`` → the df-ordered PREFIX-FILTERED join
      (`ngram_jaccard_pairs_prefix`), whose own Σ df_prefix² statistic
      then decides pair-space slicing.  This is the route every Zipfian
      natural corpus takes — the naive form's worst case there is a
      measured out-of-disk abort at sf10 (SCALING.md round 3).

    Both routes are output-identical (pinned by
    tests/test_advanced_properties.py::test_prefix_filter_equals_naive_jaccard,
    which also forces the adversarial route on a benign corpus), so the
    statistic trades only cost, never correctness: safe on the
    adversarial input AND fast on the benign one.  The routing
    threshold reuses the one disk-budget knob rather than introducing a
    second tunable; the chosen route is logged.

    The shingle relation is computed ONCE here (persisted for the stat
    pass, handed to whichever route wins — see `_route_on_sigma_df2` for
    the per-route lifecycle) — the statistic costs one shingling + one
    small (h)-keyed aggregate, never a second pass over the documents;
    on the naive route the passing statistic doubles as the safety
    certificate for the group-explode candidate plan
    (`_certified_pairs_by_h`)."""
    return _route_on_sigma_df2(
        docs, n, id_col, text_col, max_join_rows, "ngram_jaccard_pairs",
        lambda sh: ngram_jaccard_pairs_naive(
            docs, n, threshold, id_col, text_col, _sh=sh, _certified=True
        ),
        lambda sh: ngram_jaccard_pairs_prefix(
            docs, n, threshold, id_col, text_col,
            max_join_rows=max_join_rows, _sh=sh,
        ),
    )


def ngram_jaccard_pairs_naive(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    _sh: DataFrame | None = None,
    _certified: bool = False,
) -> DataFrame:
    """Exact near-dup pairs by n-gram Jaccard ≥ threshold (NAIVE
    inverted-index join on hashed shingles).  Candidate cost is Σ df(h)²
    over all shingles — near-linear ONLY when shingle frequencies are
    near-uniform; on natural text the heavy-hitter shingles make this
    blow up (measured sf10 abort, SCALING.md round-3).  Prefer
    `ngram_jaccard_pairs` (adaptive routing, same output) or MinHash-LSH
    (approximate).

    ``_certified`` (router-only): the adaptive router's passing Σ df²
    statistic licenses the cheaper group-explode candidate plan
    (`_certified_pairs_by_h`, one shingle shuffle instead of two plus a
    sort-merge join); the unrouted form keeps the self-join, whose
    worst case degrades to disk instead of a single aggregation
    buffer."""

    def _finalize(sh: DataFrame) -> DataFrame:
        # the pairs relation is joined back to per-doc sizes twice (a
        # and b sides); when the corpus is broadcast-small those joins
        # run map-side, fusing the whole post-candidate pipeline into
        # the groupBy(a,b) reduce stage instead of re-shuffling the
        # pairs relation twice — see _attach_pair_sizes
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).persist()
        try:
            n_docs = sizes.count()
            if _certified:
                common = _certified_pairs_by_h(sh)
            else:
                a = sh.select(F.col("doc_id").alias("a"), "h")
                b = sh.select(F.col("doc_id").alias("b"), "h")
                common = (
                    a.join(b, "h")
                    .where(F.col("a") < F.col("b"))
                    .groupBy("a", "b")
                    .agg(F.count(F.lit(1)).alias("n_common"))
                )
            plan = _attach_pair_sizes(common, sizes, n_docs).withColumn(
                "jaccard", _jaccard(F.col("n_common"), F.col("n_a"), F.col("n_b"))
            ).filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")
            # eager materialization while sh + sizes are cached; the
            # returned scan is eviction-proof and cache-free
            return _stage_parquet(plan, "ngram_naive_pairs")
        finally:
            sizes.unpersist()

    if _sh is not None:
        # relation handed down by the adaptive router, which owns its
        # (persisted) lifecycle; the result is staged HERE so the
        # broadcast decision and the cache scope live together
        return _finalize(_sh)
    # standalone: persist for the three reads, materialize the small
    # pairs result, release the cache — same lifecycle as the router's
    # naive branch (see _route_on_sigma_df2)
    sh = shingle_hashes(docs, n, id_col, text_col).persist()
    try:
        return _finalize(sh)
    finally:
        sh.unpersist()


def ngram_jaccard_new_vs_corpus(
    corpus: DataFrame,
    new_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INCREMENTAL dedup: near-dup pairs between a NEW ingest batch and
    the EXISTING corpus only.  A continuously-fed corpus must not re-pair
    itself on every ingest — a full `ngram_jaccard_pairs` re-run over
    corpus ∪ batch costs Σ df² over the WHOLE corpus each time, while
    this restricted join costs Σ_h df_new(h)·df_corpus(h): proportional
    to the batch, regardless of corpus size.  (In production the corpus
    shingle relation is the already-materialized inverted index, bucketed
    by h so the probe co-locates — see operators/scale.py.)  Within-batch
    duplicates are the ordinary pairwise op over the small batch.

    Output (a = corpus doc, b = new doc, jaccard ≥ threshold)."""
    # both shingle relations are read twice (sizes + join side): persist
    # for the duration of the eager result materialization, then release
    # — the naive-route lifecycle of _route_on_sigma_df2
    sh_c = shingle_hashes(corpus, n, id_col, text_col).persist()
    sh_n = shingle_hashes(new_docs, n, id_col, text_col).persist()
    try:
        sizes_c = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        sizes_n = sh_n.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        common = (
            sh_c.select(F.col("doc_id").alias("a"), "h")
            .join(sh_n.select(F.col("doc_id").alias("b"), "h"), "h")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        out = (
            common.join(
                sizes_c.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a"
            )
            .join(sizes_n.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
            .withColumn("jaccard", _jaccard(F.col("n_common"), F.col("n_a"), F.col("n_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
        return _stage_parquet(out, "inc_pairs")
    finally:
        sh_c.unpersist()
        sh_n.unpersist()


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(sh_hashed: DataFrame, k: int = 16, with_sizes: bool = False) -> DataFrame:
    """k MinHash values per doc from the universal family over the 32-bit
    reduced shingle hash: one aggregate, k min() columns, pure integer
    arithmetic (no md5 in the loop).  with_sizes=True folds the per-doc
    shingle count (n_sh) into the same aggregate — one pass over the
    shingle relation serves both the signature and the later Jaccard
    verification, instead of two separate groupBy shuffles."""
    hashed = sh_hashed.select(
        "doc_id",
        *[
            ((F.lit(HASH_A[i]) * (F.col("h") % HASH_P) + F.lit(HASH_B[i])) % HASH_P).alias(
                f"g{i}"
            )
            for i in range(k)
        ],
    )
    aggs = [F.min(f"g{i}").alias(f"mh{i}") for i in range(k)]
    if with_sizes:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return hashed.groupBy("doc_id").agg(*aggs)


def _banded(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, bkey): band digests of a MinHash signature —
    r = k/bands signature rows hashed per band."""
    r = k // bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")


def lsh_candidate_pairs(sig: DataFrame, k: int = 16, bands: int = 4) -> DataFrame:
    """Band the signature (r = k/bands rows per band) and equi-join on the
    band digest: candidates = pairs agreeing on ≥1 full band."""
    banded = _banded(sig, k, bands)
    left = banded.select(F.col("doc_id").alias("a"), "band", "bkey")
    right = banded.select(F.col("doc_id").alias("b"), "band", "bkey")
    return (
        left.join(right, ["band", "bkey"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle-hash → sign → band → candidate
    equi-join → candidate-driven exact-Jaccard verify ≥ threshold.
    Output (a, b, jaccard)."""
    # four downstream branches (signature, sizes, both verify sides)
    # read the shingle relation; the signature (one row per doc) feeds
    # both the banding and the sizes.  Persist both for the duration of
    # the eager result materialization, then release — the
    # naive-route lifecycle of _route_on_sigma_df2 (nothing stays
    # cached; MEMORY_AND_DISK spills under pressure, never recomputes)
    sh = shingle_hashes(docs, n, id_col, text_col).persist()
    sig = minhash_signatures(sh, k, with_sizes=True).persist()
    try:
        cand = lsh_candidate_pairs(
            sig.select("doc_id", *[f"mh{i}" for i in range(k)]), k, bands
        )
        sizes = sig.select("doc_id", "n_sh")
        return _stage_parquet(
            _verify_jaccard_pairs(cand, sh, sizes, threshold), "mh_pairs"
        )
    finally:
        sig.unpersist()
        sh.unpersist()


def minhash_lsh_dedup_edges(
    docs: DataFrame,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup DEDUP EDGES with BOUNDED output: per LSH
    bucket, each member is candidate-paired only with the bucket's
    REPRESENTATIVE (min doc_id) — a star, m−1 candidates per m-member
    bucket — instead of all C(m,2) pairs.  Survivors get the same exact
    candidate-driven Jaccard verify ≥ threshold.

    Why: a real crawl has million-copy boilerplate groups.  All such
    copies land in the same LSH buckets, so the all-pairs form
    (`minhash_lsh_pairs`) emits C(m,2) TRUE pairs per group — quadratic
    output even though candidate generation is bucketed (measured: the
    sf10 fixture's factor-100 near-dup groups produced ~25M verified
    pairs, 310s; a million-copy group would be ~5·10¹¹ pairs).  For
    deduplication the pair list is only consumed by connected
    components, and a star on each bucket already connects everything
    the bucket connects — per-group cost drops to m−1.

    Semantics (documented contract): the output is a sparse EDGE SET for
    cluster assignment, not the full ≥-threshold pair enumeration —
    a pair (x, y) with J(x,y) ≥ t is represented transitively through
    bucket representatives rather than emitted directly.  Clusters from
    `connected_components` over these edges equal the all-pairs clusters
    whenever member↔representative edges verify — in particular for the
    pathological near-identical groups this operator exists to bound;
    a cluster can split only when connectivity depends on a non-star
    pair whose star edges fail the threshold (LSH banding already
    accepts analogous false-negative risk).  Pinned empirically by
    tests/test_advanced_properties.py::test_lsh_dedup_edges_same_clusters.
    `minhash_lsh_pairs` remains the exhaustive-pairs form.
    """
    sh = shingle_hashes(docs, n, id_col, text_col).persist()
    sig = minhash_signatures(sh, k, with_sizes=True).persist()
    try:
        banded = _banded(sig.select("doc_id", *[f"mh{i}" for i in range(k)]), k, bands)
        from pyspark.sql.window import Window

        # star candidates: one window min per (band, bkey) bucket —
        # shuffle volume O(docs × bands) in AND out, never C(m,2)
        w_bucket = Window.partitionBy("band", "bkey")
        cand = (
            banded.withColumn("a", F.min("doc_id").over(w_bucket))
            .filter(F.col("doc_id") > F.col("a"))
            .select("a", F.col("doc_id").alias("b"))
            .distinct()
        )
        return _stage_parquet(
            _verify_jaccard_pairs(cand, sh, sig.select("doc_id", "n_sh"), threshold),
            "mh_star_pairs",
        )
    finally:
        sig.unpersist()
        sh.unpersist()


def minhash_lsh_new_vs_corpus(
    corpus: DataFrame,
    new_docs: DataFrame,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental MinHash-LSH: probe only the NEW batch's band digests
    against the corpus's band table — the approximate sibling of
    `ngram_jaccard_new_vs_corpus`.  In production the corpus's
    signatures/bands are a materialized index maintained at ingest;
    per-batch cost is then sign(batch) + an equi-join whose probe side
    is the batch, independent of corpus size.  Output
    (a = corpus doc, b = new doc, jaccard ≥ threshold), verified
    exactly on the shingle sets."""
    sh_c = shingle_hashes(corpus, n, id_col, text_col).persist()
    sh_n = shingle_hashes(new_docs, n, id_col, text_col).persist()
    sig_c = minhash_signatures(sh_c, k, with_sizes=True).persist()
    sig_n = minhash_signatures(sh_n, k, with_sizes=True).persist()
    try:
        mh_cols = [f"mh{i}" for i in range(k)]
        banded_c = _banded(sig_c.select("doc_id", *mh_cols), k, bands)
        banded_n = _banded(sig_n.select("doc_id", *mh_cols), k, bands)
        cand = (
            banded_c.select(F.col("doc_id").alias("a"), "band", "bkey")
            .join(
                banded_n.select(F.col("doc_id").alias("b"), "band", "bkey"),
                ["band", "bkey"],
            )
            .select("a", "b")
            .distinct()
        )
        out = _verify_jaccard_pairs(
            cand,
            sh_c,
            sig_c.select("doc_id", "n_sh"),
            threshold,
            sh_b=sh_n,
            sizes_b=sig_n.select("doc_id", "n_sh"),
        )
        return _stage_parquet(out, "mh_inc_pairs")
    finally:
        for df in (sig_c, sig_n, sh_c, sh_n):
            df.unpersist()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash16(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per document: per-token 60-bit hash, token-frequency
    weighted ±1 votes per bit position, sign → bit.  Returns
    (doc_id, simhash)."""
    docs = ensure_min_parallelism(docs)  # same few-split rescue as shingles()
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", md5long(F.col("tok")))
    )
    votes = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("j"),
        "w",
        "h",
    ).withColumn(
        # the python shiftright() wrapper only takes a literal shift; the
        # SQL expression form accepts a column
        "vote",
        F.when(F.expr("(shiftright(h, j) & 1) = 1"), F.col("w")).otherwise(-F.col("w")),
    )
    return (
        votes.groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(1L, j)")).otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


# ---------------------------------------------------------------------------
# Dedup-cluster assignment: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Assign every node the minimum node-id of its connected component.

    This is the step that turns near-dup *pairs* (MinHash/Jaccard output)
    into dedup *groups*: keep one doc per component.  Implemented as
    distributed min-label propagation — each iteration every node adopts
    min(own label, neighbours' labels) via one equi-join + groupBy; the
    loop stops when an iteration changes no label.

    Scale design: iteration count is bounded by the component diameter,
    and near-dup clusters are shallow (dozens of docs, diameter ~2-4), so
    3-5 rounds close at any corpus size.  Each round shuffles only
    (node, label) longs — never text.  Each round's labels are STAGED to
    a per-invocation parquet (lineage truncation — plan depth stays O(1)
    instead of O(iterations)); staging replaced ``localCheckpoint``
    because checkpoint blocks are persisted outside the CacheManager and
    are NOT released when the caller drops the result (measured: the
    ContextCleaner never collects them even after explicit GC), so a
    long-lived driver would accumulate one pinned snapshot per call.
    Superseded iteration dirs are deleted as the loop advances; the
    final one is reaped at process exit (tests/test_dedup_hygiene.py).
    Analog of the reference's keyed-state reachability — there is none;
    this is pure EXT (BASELINE.json north-star dedup).

    Returns (id_col, component); isolated nodes are their own component.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    spark = nodes.sparkSession

    def _stage_round(df: DataFrame, tag: str) -> tuple[DataFrame, str]:
        d = tempfile.mkdtemp(prefix=f"dedup_stage_cc_{tag}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        df.write.mode("overwrite").parquet(d)
        return spark.read.parquet(d), d

    labels, prev_dir = _stage_round(
        nodes.select(F.col(id_col).alias("node"))
        .distinct()
        .withColumn("component", F.col("node")),
        "init",
    )
    for it in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias(
                    "_chg"
                ),
            )
        )
        updated, new_dir = _stage_round(updated, f"it{it}")
        n_changed = updated.filter(F.col("_chg")).count()
        # the new round's staging fully supersedes the old one — free
        # the old directory now instead of accumulating one per round
        shutil.rmtree(prev_dir, ignore_errors=True)
        prev_dir = new_dir
        labels = updated.drop("_chg")
        if n_changed == 0:
            break
    return labels.select(F.col("node").alias(id_col), "component")


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_join_rows: int = 300_000_000,
) -> DataFrame:
    """Directed shingle containment |A∩B| / |A| ≥ threshold — catches a
    document embedded inside a larger one, which symmetric Jaccard
    misses (a 100-word doc fully inside a 10k-word doc has Jaccard
    ≈ 0.01 but containment 1.0).  Returns (a, b, containment): fraction
    of a's shingles inside b; both directions are evaluated.

    DEFAULT, routing ADAPTIVELY on the same exact Σ df² statistic as
    `ngram_jaccard_pairs` — the naive inverted-index join here shares
    the n-gram join's candidate-volume blow-up (and would share its
    measured sf10 out-of-disk abort) on heavy-df corpora: within the
    disk budget → `containment_pairs_naive`; over it →
    `containment_pairs_prefix`.  Both routes are output-identical
    (tests/test_advanced_properties.py::test_containment_prefix_equals_naive)."""
    return _route_on_sigma_df2(
        docs, n, id_col, text_col, max_join_rows, "containment_pairs",
        lambda sh: containment_pairs_naive(
            docs, n, threshold, id_col, text_col, _sh=sh, _certified=True
        ),
        lambda sh: containment_pairs_prefix(
            docs, n, threshold, id_col, text_col,
            max_join_rows=max_join_rows, _sh=sh,
        ),
    )


def containment_pairs_naive(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    _sh: DataFrame | None = None,
    _certified: bool = False,
) -> DataFrame:
    """NAIVE inverted-index containment join: candidate cost Σ df(h)²
    over all shingles — near-linear ONLY when df is near-uniform.  The
    undirected common counts are computed once (a<b) and emitted in both
    directions, so the quadratic part is not paid twice.  Prefer
    `containment_pairs` (adaptive) on corpora of unknown shape.
    ``_certified``: see `ngram_jaccard_pairs_naive` — router-licensed
    group-explode candidate plan."""

    def _finalize(sh: DataFrame) -> DataFrame:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).persist()
        try:
            n_docs = sizes.count()
            if _certified:
                common = _certified_pairs_by_h(sh)
            else:
                x = sh.select(F.col("doc_id").alias("a"), "h")
                y = sh.select(F.col("doc_id").alias("b"), "h")
                common = (
                    x.join(y, "h")
                    .where(F.col("a") < F.col("b"))
                    .groupBy("a", "b")
                    .agg(F.count(F.lit(1)).alias("n_common"))
                )
            directed = common.unionByName(
                common.select(F.col("b").alias("a"), F.col("a").alias("b"), "n_common")
            )
            sz = sizes.select(F.col("doc_id").alias("a"), "n_sh")
            if n_docs <= _SIZES_BROADCAST_MAX_DOCS:
                sz = F.broadcast(sz)
            plan = (
                directed.join(sz, "a")
                .withColumn("containment", F.round(F.col("n_common") / F.col("n_sh"), 6))
                .filter(F.col("containment") >= threshold)
                .select("a", "b", "containment")
            )
            return _stage_parquet(plan, "contain_naive_pairs")
        finally:
            sizes.unpersist()

    if _sh is not None:
        return _finalize(_sh)
    sh = shingle_hashes(docs, n, id_col, text_col).persist()
    try:
        return _finalize(sh)
    finally:
        sh.unpersist()


def containment_pairs_prefix(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_slices: int | None = None,
    max_join_rows: int = 300_000_000,
    slice_concurrency: int = 2,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Containment join with DIRECTED prefix filtering — the scale path
    for heavy-df corpora (the containment analog of
    `ngram_jaccard_pairs_prefix`; prefix principle per Chaudhuri et al.
    ICDE'06 / Xiao et al. WWW'08, overlap form):

    a directed candidate (x → y) needs overlap ≥ α(x) = ⌈t·|X|⌉, so in
    ANY fixed global shingle order, Y must share one of X's first
    |X| − α(x) + 1 shingles (were every common shingle among X's last
    α(x) − 1, the overlap would be < α(x)).  The PROBE side is therefore
    each doc's df-ordered prefix; the INDEX side must stay the FULL
    shingle relation (containment puts no upper bound on |Y|, and a
    probe-side-only prefix would miss big containers).  Candidate cost
    drops from Σ df² to Σ df_prefix(h)·df(h) — the rarest-first order
    keeps heavy-hitter shingles out of the probe.  A positional filter
    prunes map-side: the first common shingle at ranks (pos_x, pos_y)
    bounds the overlap by 1 + min(|X|−pos_x, |Y|−pos_y) ≥ α(x).

    Every DIRECTED pair is generated exactly once (from its probe doc),
    so the pair space slices cleanly by pmod(hash(x), K) when the exact
    Σ df_prefix·df statistic exceeds the disk budget — same overlap /
    concurrency / cap rules as the Jaccard form.  The verify joins each
    candidate's two sorted hash arrays once; the directed verify costs
    ~2× the naive form's shared undirected count, a trade that only the
    heavy route (where the filters cut orders of magnitude) pays.

    Output identical to `containment_pairs_naive`."""
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    sh = _sh if _sh is not None else _stage_parquet(
        shingle_hashes(docs, n, id_col, text_col), "contain_prefix_sh"
    )
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = _stage_parquet(
        sh.join(freq, "h")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .select("doc_id", "h", "pos", "n_sh"),
        "contain_ranked",
    )
    probe = ranked.filter(
        F.col("pos") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    )
    arrs = _stage_parquet(shingle_arrays(sh), "contain_arrs")

    if n_slices is None:
        # exact pre-dedup candidate count Σ_h df_prefix(h)·df(h): one
        # bounded 1-row aggregate joining the probe's per-h counts with
        # the full df
        stat = (
            probe.groupBy("h")
            .agg(F.count(F.lit(1)).alias("dfp"))
            .join(freq, "h")
            .agg(F.sum(F.col("dfp") * F.col("df")).alias("s"))
            .first()["s"]
        ) or 0
        n_slices = _auto_slice_count(
            int(stat), max_join_rows, slice_concurrency,
            op_name="containment_pairs_prefix",
        )
    # the stat above was freq's (and transitively the shingle scan's)
    # last read — everything below reads only ranked/arrs staging; free
    # the shingle staging dir now (round-5 advice: no intra-call /tmp
    # accumulation)
    reap_staged(sh)

    def _directed_candidates(px: DataFrame, iy: DataFrame) -> DataFrame:
        alpha = F.ceil(F.lit(threshold) * F.col("n_a"))
        return (
            px.join(iy, "h")
            .where(
                (F.col("a") != F.col("b"))
                & (
                    1
                    + F.least(
                        F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
                    )
                    >= alpha
                )
            )
            .select("a", "b")
            .distinct()
        )

    def _verify_containment(cand: DataFrame) -> DataFrame:
        x = arrs.select(
            F.col("doc_id").alias("a"), F.col("hs").alias("hs_a"),
            F.col("n_sh").alias("n_a"),
        )
        y = arrs.select(F.col("doc_id").alias("b"), F.col("hs").alias("hs_b"))
        return (
            cand.join(x, "a")
            .join(y, "b")
            .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
            .withColumn("containment", F.round(F.col("n_common") / F.col("n_a"), 6))
            .filter(F.col("containment") >= threshold)
            .select("a", "b", "containment")
        )

    px_all = probe.select(
        F.col("doc_id").alias("a"), "h", F.col("pos").alias("pos_a"),
        F.col("n_sh").alias("n_a"),
    )
    iy_all = ranked.select(
        F.col("doc_id").alias("b"), "h", F.col("pos").alias("pos_b"),
        F.col("n_sh").alias("n_b"),
    )

    if n_slices <= 1:
        return _verify_containment(_directed_candidates(px_all, iy_all))

    import gc
    import time as _time
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    final_dir = tempfile.mkdtemp(prefix="contain_prefix_pairs_")
    atexit.register(shutil.rmtree, final_dir, ignore_errors=True)
    # bucket the FULL ranked relation by h (one hash-shuffle, paid
    # once): every slice's probe (a pos-filtered scan of it) and index
    # (the full scan) are bucket-aligned, so the K directed candidate
    # joins run exchange-free — the n-gram sliced branch's optimization,
    # directed form
    tbl = f"contain_ranked_bkt_{uuid.uuid4().hex[:12]}"
    try:
        # bucket count sized from the staged ranked relation's bytes —
        # same rule as the Jaccard sliced branch
        n_buckets = auto_bucket_count(staged_bytes(ranked), default=64)
        (
            ranked.repartition(n_buckets, "h")
            .write.bucketBy(n_buckets, "h")
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        # the bucketed table supersedes the staged ranked dir
        reap_staged(ranked)
        ranked_b = spark.table(tbl)
        slice_key = F.pmod(F.hash(F.col("doc_id")), F.lit(n_slices))
        probe_b = ranked_b.filter(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        iy_b = ranked_b.select(
            F.col("doc_id").alias("b"), "h", F.col("pos").alias("pos_b"),
            F.col("n_sh").alias("n_b"),
        )

        def _run_slice(i: int) -> None:
            px_i = probe_b.filter(slice_key == i).select(
                F.col("doc_id").alias("a"), "h", F.col("pos").alias("pos_a"),
                F.col("n_sh").alias("n_a"),
            )
            cand_i = _directed_candidates(px_i, iy_b)
            _verify_containment(cand_i).write.mode("overwrite").parquet(
                os.path.join(final_dir, f"s{i:05d}")
            )
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
            _time.sleep(0.2)

        workers = max(1, min(int(slice_concurrency), n_slices))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(_run_slice, range(n_slices)))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        # slice jobs all retired — only final_dir outlives the call
        reap_staged(arrs)
    return spark.read.parquet(os.path.join(final_dir, "s*"))
