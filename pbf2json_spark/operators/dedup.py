"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — over `documents`.

Spark-first shapes:

- exact: one hash-groupBy (map-side partial agg).
- MinHash+LSH: shingle -> K permutation min-hashes computed as JVM
  array expressions (no Python), band signatures exploded, candidate
  pairs from a self-equi-join on (band, signature), then exact Jaccard
  verification on the candidates only.  Exact duplicates are collapsed
  to one representative BEFORE the LSH (d identical docs would
  otherwise contribute d^2/2 candidate pairs per band); the pair set
  is expanded back through group membership afterwards, which is
  output-equivalent because identical texts have identical signatures
  and jaccard 1.0.  The constants are module-level so the SQL oracle
  reproduces the identical pipeline.
- SimHash: 60-bit sign-of-sum signature.  Token hashes are JVM-side
  (md5 prefix -> bigint, the same portable hash the SQL oracle runs);
  only the numeric vote/sign reduction is a vectorized numpy pass
  (no per-token Python anywhere).  Near-dup candidates come from
  banding the signature into 4x15-bit chunks, verified by exact
  hamming distance.
- n-gram Jaccard: exact pairwise within a blocking key (length bucket
  x lang), with a PREFIX-FILTER candidate join (Bayardo et al.,
  "Scaling Up All Pairs Similarity Search", WWW'07): two shingle sets
  with jaccard >= tau must share a token within their first
  |s| - ceil(tau*|s|) + 1 tokens under a global token order, so the
  candidate join is token-equi and provably sub-quadratic in block
  size while returning the identical pair set.

At 100 TB the LSH path is the only quadratic-free variant; banding
keys are salted-friendly (band index is part of the join key, so hot
signatures spread across B bands).

Every operator here that persists or checkpoints an intermediate does
it through one plans.session.Intermediates per call, which releases
exactly those blocks on return or on any exception.  Such a call's
result is an eager localCheckpoint: pair outputs are small
(candidates, not corpus rows), and its blocks are freed by the
ContextCleaner once the caller drops it, where a persist would leak a
SQL cache entry until an explicit unpersist.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.session import Intermediates, fresh_pandas_udf, plan_bytes

# MinHash constants — shared verbatim with the SQL oracle
MINHASH_PRIME = 1073741789          # ~2^30, keeps a*h+b < 2^63
MINHASH_K = 16
# 4 bands x 4 rows: candidate probability j^4 per band — the r=2 variant
# drowned in noise pairs on corpora whose baseline pairwise jaccard is
# ~0.02 (40k false candidates at 5k docs); r=4 keeps the 50%-detection
# threshold at (1/4)^(1/4) ~ 0.71, i.e. a true near-dup finder
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS
# deterministic (a, b) per permutation: splitmix-ish constants
MINHASH_A = [(2654435761 * (i + 1)) % MINHASH_PRIME for i in range(MINHASH_K)]
MINHASH_B = [(40503 * (i + 7) ** 2) % MINHASH_PRIME for i in range(MINHASH_K)]

SHINGLE_N = 3

# SimHash: 60-bit signatures (md5-prefix token hash carries 60 bits),
# banded into 4 x 15-bit chunks for candidate generation
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
SIMHASH_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1

# dedup_groups' round bound: star contraction converges in O(log n)
# alternating rounds, so 25 covers any component this engine can hold
DEDUP_MAX_ROUNDS = 25


def _verify_partitions(docs: DataFrame) -> int:
    """Partition count for the pairwise-verify stages: enough to use
    every core (the verify is per-row compute over fat arrays, which
    byte-based AQE coalescing under-parallelizes), scaling with the
    session's shuffle setting on a real cluster."""
    spark = docs.sparkSession
    return max(2 * spark.sparkContext.defaultParallelism,
               int(spark.conf.get("spark.sql.shuffle.partitions", "200")))


def _tokens():
    return F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")


def _hash60(col):
    """Portable 60-bit string hash: md5 prefix -> bigint (identical
    expression exists in DuckDB for the oracles)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _shingles():
    """Distinct token SHINGLE_N-gram strings.

    Built with SHINGLE_N - 1 zip_with passes over shifted slices instead
    of a per-index transform+slice+concat_ws (measured 6x faster for
    trigrams: the interpreted slice allocates a fresh array per
    shingle).  Pass j appends toks[i + j] to gram i; zip_with pads the
    shorter slice with nulls, so the last j grams go null and are
    filtered out.  Short docs (< N tokens) fall back to the whole
    text."""
    toks = _tokens()
    n = F.size(toks)
    grams = toks
    for j in range(1, SHINGLE_N):
        grams = F.zip_with(
            grams, F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda g, c: F.when(c.isNotNull(), F.concat(g, F.lit(" "), c)))
    return F.when(n >= SHINGLE_N,
                  F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))) \
            .otherwise(F.array(F.array_join(toks, " ")))


def _shingle_hashes_from(sh_col):
    """Shingle-hash array from an already-computed shingle column."""
    return F.transform(sh_col, lambda s: _hash60(s) % MINHASH_PRIME)


def _shingle_hashes():
    return _shingle_hashes_from(_shingles())


_MH_A_NP = np.array(MINHASH_A, dtype=np.int64)[None, :]
_MH_B_NP = np.array(MINHASH_B, dtype=np.int64)[None, :]


@fresh_pandas_udf(T.StructType([
    T.StructField("sh", T.ArrayType(T.StringType())),
    T.StructField("mh", T.ArrayType(T.LongType()))]))
def _shingle_mh(toks: pd.Series) -> pd.DataFrame:
    """Fused shingle + hash + minhash stage over JVM-tokenized arrays
    (r7, guide §4.2): builds the distinct SHINGLE_N-gram strings, their md5
    60-bit hashes and the K permutation minima in one Python pass.
    Token semantics stay JVM-side (_tokens()); everything here is
    byte-exact string joins + md5, so the output is element-identical
    to the _shingles()/_hash60/_minhash_cols expression chain (the
    JVM HOF chain was the measured hot spot: ~4.6 s of interpreted
    zip_with/array_distinct per 50k docs vs ~1 s for this stage).
    dict.fromkeys preserves first-occurrence order like
    array_distinct; a null token array maps to sh=[null], mh=null —
    the exact null chain the JVM expressions produce."""
    import hashlib

    shs: list = []
    mhs: list = []
    for t in toks:
        if t is None:
            shs.append([None])
            mhs.append(None)
            continue
        t = list(t)
        n = len(t)
        if n >= SHINGLE_N:
            sh = list(dict.fromkeys(
                " ".join(t[i:i + SHINGLE_N])
                for i in range(n - SHINGLE_N + 1)))
        else:
            sh = [" ".join(t)]
        hs = np.fromiter(
            (int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
             % MINHASH_PRIME for s in sh if s is not None),
            dtype=np.int64)
        shs.append(sh)
        if len(hs) == 0:
            mhs.append(None)
        else:
            mhs.append(
                ((hs[:, None] * _MH_A_NP + _MH_B_NP) % MINHASH_PRIME)
                .min(axis=0))
    return pd.DataFrame({"sh": shs, "mh": mhs})


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(text_md5, rep_doc_id, n_dups): duplicate groups by exact content
    hash; representative = smallest doc_id."""
    return (docs.select(F.md5("text").alias("text_md5"), "doc_id")
            .groupBy("text_md5")
            .agg(F.min("doc_id").alias("rep_doc_id"),
                 F.count("*").alias("n_dups")))


def _minhash_cols(shh_col: str):
    """The K permutation-min columns from a shingle-hash array column."""
    def perm(a, b):
        # one-arg closure (default-arg lambdas trip pyspark's HOF arity)
        return lambda h: (h * a + b) % MINHASH_PRIME

    return [F.array_min(F.transform(shh_col, perm(MINHASH_A[i], MINHASH_B[i])))
             .alias(f"mh_{i}") for i in range(MINHASH_K)]


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{K-1}) minhash signature columns, all JVM-side."""
    base = docs.select("doc_id", _shingle_hashes().alias("shh"))
    return base.select("doc_id", *_minhash_cols("shh"))


def _band_rows(sig: DataFrame) -> DataFrame:
    bands = []
    for b in range(MINHASH_BANDS):
        cols = [F.col(f"mh_{b * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)]
        bands.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])).alias("sig")))
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def minhash_lsh_pairs(docs: DataFrame, tau: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) candidate pairs from LSH banding, verified
    by exact shingle Jaccard >= tau.  doc_a < doc_b.

    Exact duplicates are collapsed to their min-doc_id representative
    before the LSH self-join and the verified pairs expanded back
    through group membership (within-group pairs have jaccard exactly
    1.0; cross-group pairs inherit the representatives' jaccard since
    identical text means identical shingle sets).  Shingles AND the K
    permutation minima are computed ONCE (fused _shingle_mh stage)
    into a persisted base reused by the banding pass and both sides
    of the verify join; at a 100 TB scale this persist becomes a
    TableIO stage checkpoint.  The group-membership table is also
    persisted — it feeds four expansion subtrees that would otherwise
    each recompute the md5-groupBy chain (r7: that recomputation was
    ~1/3 of the operator's wall).  Both persists are the call's own
    (plans.session.Intermediates): the pair set is checkpointed
    eagerly and both released on return, or on any exception."""
    # read before anything is persisted: plan_bytes has no fallback
    est = plan_bytes(docs)
    with Intermediates() as held:
        keyed = docs.select(F.md5("text").alias("tkey"), "doc_id")
        reps = keyed.groupBy("tkey").agg(F.min("doc_id").alias("rep_id"))
        mem = held.persist(keyed.join(reps, "tkey").select("rep_id", "doc_id"))

        rep_docs = docs.join(
            mem.select(F.col("rep_id").alias("doc_id")).distinct(),
            "doc_id", "leftsemi")
        # the fused shingle stage is the operator's CPU; a small/packed
        # corpus (one parquet file = one scan split) would otherwise run
        # it on a single core (r7: the whole 50k-doc stage sat on 1 of 32
        # slots).  Only widen — an already well-partitioned corpus never
        # pays a text shuffle for this.
        # probe the SCAN's width cheaply: inputFiles() is metadata-only,
        # while converting a plan to an RDD just to count partitions cost
        # ~0.5 s of driver time.  A file-backed corpus with >= par files
        # is already wide; non-file-backed frames fall back to the RDD
        # probe (never blind-repartition a corpus-sized frame).  Below
        # ~2 MB of text the single-core shingle stage costs less than the
        # repartition exchange + a cluster-wide wave of Arrow task floors
        # (measured at the sf0.1 gate: widening ADDED ~0.5 s), so tiny
        # corpora skip the widening — any real corpus clears 2 MB.
        par = docs.sparkSession.sparkContext.defaultParallelism
        if est >= (2 << 20):
            n_splits = len(docs.inputFiles()) or docs.rdd.getNumPartitions()
            if n_splits < par:
                rep_docs = rep_docs.repartition(2 * par)
        base = held.persist(rep_docs.select(
            "doc_id", _shingle_mh(_tokens()).alias("smh")
        ).select("doc_id", F.col("smh.sh").alias("sh"),
                 F.col("smh.mh").alias("mh")))

        sig = base.select("doc_id", *[
            F.col("mh")[i].alias(f"mh_{i}") for i in range(MINHASH_K)])

        banded = _band_rows(sig)
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.sig") == F.col("b.sig"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"))
                 .distinct())

        # spread the exact-jaccard evaluation (guide §2.5): AQE coalesces
        # the verify join by shuffle BYTES, but candidate rows are skinny
        # while the per-row set intersection over the attached shingle
        # arrays is compute-heavy — the event-log profile showed ALL 138k
        # verifications packed into 2 tasks (2.9 s straggler).  The
        # explicit hash repartition BETWEEN the joins pins the second
        # join's stage (where the jaccard + filter live and below which
        # they cannot be pushed) at full parallelism; a repartition AFTER
        # the join is useless — the optimizer pushes the deterministic
        # filter (and the jaccard it needs) straight through it.
        j = (cand
             .join(base.select(F.col("doc_id").alias("doc_a"),
                               F.col("sh").alias("sh_a")), "doc_a")
             .repartition(_verify_partitions(docs), "doc_b")
             .join(base.select(F.col("doc_id").alias("doc_b"),
                               F.col("sh").alias("sh_b")), "doc_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
        rep_pairs = (j.select("doc_a", "doc_b",
                              F.round(inter / union, 9).alias("jaccard"))
                      .filter(F.col("jaccard") >= tau))

        # expand representatives back to all group members
        ma = mem.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("a"))
        mb = mem.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("b"))
        cross = (rep_pairs.join(ma, "doc_a").join(mb, "doc_b")
                 .select(F.least("a", "b").alias("doc_a"),
                         F.greatest("a", "b").alias("doc_b"),
                         "jaccard"))
        if tau > 1.0:   # identical texts (jaccard exactly 1.0) can't pass
            return held.result(cross)
        wa = mem.select("rep_id", F.col("doc_id").alias("a"))
        wb = mem.select(F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("b"))
        within = (wa.join(wb, (F.col("rep_id") == F.col("rep_b"))
                          & (F.col("a") < F.col("b")))
                  .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                          F.lit(1.0).alias("jaccard")))
        return held.result(cross.unionByName(within))


# ---------------------------------------------------------------------------
# n-gram Jaccard with prefix filtering
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, tau: float = 0.3,
                        length_bucket: int = 100) -> DataFrame:
    """Exact pairwise n-gram Jaccard within (lang, length-bucket) blocks
    — (doc_a, doc_b, jaccard >= tau), identical output to the all-pairs
    form, but candidates come from a PREFIX-FILTER token join: under a
    global (lexicographic) shingle order, jaccard(A,B) >= tau implies
    |A∩B| >= ceil(tau*max(|A|,|B|)), so A and B must share a shingle
    within their first |s| - ceil(tau*|s|) + 1 sorted shingles.  The
    join key is (lang, lb, prefix-shingle) — sub-quadratic in block
    size instead of the blocked cross join."""
    with Intermediates() as held:
        base = held.persist(docs.select(
            "doc_id", "lang",
            (F.col("n_chars") / length_bucket).cast("int").alias("lb"),
            F.array_sort(_shingles()).alias("sh")))
        # prefix length p = n - ceil(tau*n) + 1
        n = F.size("sh")
        plen = (n - F.ceil(F.lit(tau) * n).cast("int") + 1).cast("int")
        pref = base.select(
            "doc_id", "lang", "lb",
            F.explode(F.slice("sh", 1, plen)).alias("ptok"))
        a = pref.select(F.col("doc_id").alias("doc_a"), "lang", "lb", "ptok")
        b = pref.select(F.col("doc_id").alias("doc_b"),
                        F.col("lang").alias("lang_b"),
                        F.col("lb").alias("lb_b"), F.col("ptok").alias("ptok_b"))
        cand = (a.join(b, (F.col("lang") == F.col("lang_b"))
                       & (F.col("lb") == F.col("lb_b"))
                       & (F.col("ptok") == F.col("ptok_b"))
                       & (F.col("doc_a") < F.col("doc_b")))
                .select("doc_a", "doc_b").distinct())
        # same verify-stage spreading as minhash_lsh_pairs (AQE coalesces
        # skinny pair rows into too few compute-heavy tasks; the explicit
        # hash repartition must sit BETWEEN the joins — see the note there)
        j = (cand
             .join(base.select(F.col("doc_id").alias("doc_a"),
                               F.col("sh").alias("sh_a")), "doc_a")
             .repartition(_verify_partitions(docs), "doc_b")
             .join(base.select(F.col("doc_id").alias("doc_b"),
                               F.col("sh").alias("sh_b")), "doc_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
        out = (j.select("doc_a", "doc_b",
                        F.round(inter / union, 9).alias("jaccard"))
               .filter(F.col("jaccard") >= tau))
        return held.result(out)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_from_hashes(hs: pd.Series) -> pd.Series:
    """Vectorized sign-of-vote reduction: one concatenated bit matrix +
    segment reduce per Arrow batch; no per-token Python."""
    n = len(hs)
    out = np.zeros(n, dtype=np.int64)
    # null text -> null token array from the JVM transform; signature 0
    # (the same value the old per-row UDF produced for missing text)
    arrs = [np.asarray(a if a is not None else [], dtype=np.int64)
            for a in hs]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    nz = np.nonzero(lens > 0)[0]
    if len(nz) == 0:
        return pd.Series(out)
    flat = np.concatenate([arrs[i] for i in nz]).astype(np.uint64)
    bits = ((flat[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)          # (T, 60)
    offsets = np.zeros(len(nz), dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=offsets[1:])
    ones = np.add.reduceat(bits, offsets, axis=0)     # (n_nz, 60)
    votes = 2 * ones - lens[nz][:, None]              # sum of (2b-1)
    weights = (np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64))
    out[nz] = (votes > 0) @ weights
    return pd.Series(out)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash.  Token hashing is JVM-side
    (md5-prefix, portable to the SQL oracle); the Python stage only does
    the vectorized numeric vote reduction."""
    tok_hashes = F.transform(_tokens(), _hash60)
    simhash = F.pandas_udf(_simhash_from_hashes, T.LongType())
    return docs.select("doc_id", simhash(tok_hashes).alias("simhash"))


def hash_near_pairs(df: DataFrame, hash_col: str, max_hamming: int,
                    id_col: str = "doc_id", bits: int = 64,
                    n_chunks: int = 4) -> DataFrame:
    """Generic banded hamming near-dup join over an integer hash column
    (SimHash, image phash, ...): candidates must share one of n_chunks
    equal-width chunks (pigeonhole: hamming <= n_chunks-1 is ALWAYS
    found; larger max_hamming keeps the same banding, so the candidate
    set is explicitly banding-limited), verified by exact popcount.
    Returns (id_a, id_b, hamming); all JVM-side."""
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    h = F.col(hash_col)
    with Intermediates() as held:
        chunks = df.select(
            F.col(id_col), h.alias("_h"),
            F.explode(F.array(*[
                F.struct(F.lit(c).alias("chunk"),
                         F.shiftright(h, chunk_bits * c)
                          .bitwiseAND(F.lit(mask)).alias("val"))
                for c in range(n_chunks)])).alias("cv"),
        ).select(id_col, "_h",
                 F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
        # both sides of the self-join read this — without the persist the
        # upstream signature pipeline (hashing + any UDF) evaluates twice
        chunks = held.persist(chunks)
        a, b = chunks.alias("a"), chunks.alias("b")
        cand = (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                       & (F.col("a.val") == F.col("b.val"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                 .select(F.col(f"a.{id_col}").alias("id_a"),
                         F.col(f"b.{id_col}").alias("id_b"),
                         F.col("a._h").alias("h_a"),
                         F.col("b._h").alias("h_b"))
                 .distinct())
        hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int")
        out = (cand.select("id_a", "id_b", hamming.alias("hamming"))
               .filter(F.col("hamming") <= max_hamming))
        return held.result(out)


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, candidates
    from 4x15-bit chunk equality (see hash_near_pairs)."""
    sig = simhash_signatures(docs)
    out = hash_near_pairs(sig, "simhash", max_hamming, id_col="doc_id",
                          bits=SIMHASH_BITS, n_chunks=SIMHASH_CHUNKS)
    return out.select(F.col("id_a").alias("doc_a"),
                      F.col("id_b").alias("doc_b"), "hamming")


def dedup_groups(pairs: DataFrame, nodes: DataFrame | None = None,
                 id_a: str = "doc_a", id_b: str = "doc_b",
                 stats: dict | None = None) -> DataFrame:
    """(doc_id, group_rep): connected components of the near-dup pair
    graph, giving each document its transitive duplicate group's
    canonical (minimum-id) representative — the step a real dedup
    pipeline needs after ANY pairwise operator here (minhash / simhash
    / ngram / embedding / phash), because near-duplication is not
    transitive pairwise but suppression decisions must be.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — converges in
    O(log n) rounds on ANY graph shape, unlike min-label propagation
    whose round count is the component diameter (a 10^6-long chain of
    shingled crawl dups would need 10^6 rounds).  Each round is two
    shuffles (a groupBy-min and a join), all JVM; no collect_list, so
    a hot star (one template duplicated 10^8 times) never materializes
    a neighborhood array.  Convergence is detected by an edge-set
    fingerprint (count + order-independent hash sum), one extra Q-row
    aggregate per round; no convergence within DEDUP_MAX_ROUNDS
    raises.

    `nodes` (optional, a 1-col DataFrame of ids): documents with no
    near-dup pair become their own representative.  Pass a dict as
    `stats` to receive {'rounds': N} — the O(log n) round-count claim
    is pinned against this in tests and BENCH/dedup_groups_scale.py.
    The edge set and the round checkpoints are the call's own
    (plans.session.Intermediates): each round retires the previous
    round's, so one round's blocks are live at a time, and the result
    is localCheckpointed (same caller contract as the pair
    operators)."""
    # ids keep their input type: casting to string would silently
    # change which member is "min" (lexicographic "10" < "9"), i.e.
    # a different canonical representative than the caller's ordering
    with Intermediates() as held:
        edges = held.persist(
            pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
            .filter(F.col("u") != F.col("v")).distinct())
        prev_fp = None
        for rounds_run in range(1, DEDUP_MAX_ROUNDS + 1):
            # large-star: every neighbor bigger than u attaches to the
            # min of u's closed neighborhood
            sym = edges.union(edges.select(F.col("v").alias("u"),
                                           F.col("u").alias("v")))
            mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
            m = F.least(F.col("u"), F.col("mn"))
            ls = (sym.join(mins, "u")
                  .filter(F.col("v") > F.col("u"))
                  .select(F.col("v").alias("u"), m.alias("v"))
                  .filter(F.col("u") != F.col("v")).distinct())
            # small-star: point edges downward, attach every smaller
            # neighbor (and u itself) to the min
            down = ls.select(F.greatest("u", "v").alias("u"),
                             F.least("u", "v").alias("v"))
            dmins = down.groupBy("u").agg(F.min("v").alias("mn"))
            joined = down.join(dmins, "u")      # (u, v, mn), mn <= v < u
            # localCheckpoint, not persist: each round builds on the
            # last, and without a LINEAGE cut the logical plan doubles
            # per round (the 2000-node-path test OOMed the driver just
            # PRINTING the round-12 plan).  The retired round's blocks
            # are released as soon as this one is materialized, not
            # left to driver-GC timing (one block-set per iteration is
            # a leak under memory pressure).
            ss = held.checkpoint(
                joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
                .union(joined.select("u", F.col("mn").alias("v")))
                .filter(F.col("u") != F.col("v")).distinct(), eager=True)
            # order-independent, overflow-free fingerprint (ANSI-safe: a
            # plain sum of hashes overflows long under ANSI mode)
            fp = ss.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h")).first()
            held.release(edges)                 # prev round retired
            edges = ss
            if stats is not None:
                stats["rounds"] = rounds_run
            if prev_fp is not None and (fp["n"], fp["h"]) == prev_fp:
                break
            prev_fp = (fp["n"], fp["h"])
        else:
            # extracting reps from an UNconverged edge set would
            # silently split groups — fail loudly instead
            raise RuntimeError(
                f"dedup_groups: no convergence after DEDUP_MAX_ROUNDS = "
                f"{DEDUP_MAX_ROUNDS} rounds (last fingerprint {prev_fp})")

        # after convergence every component is a star rooted at its min;
        # rep(u) = min over the closed neighborhood
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        rep = (sym.groupBy("u").agg(F.min("v").alias("mn"))
               .select(F.col("u").alias("doc_id"),
                       F.least(F.col("u"), F.col("mn")).alias("group_rep")))
        if nodes is not None:
            ids = nodes.select(F.col(nodes.columns[0]).alias("doc_id"))
            rep = (ids.join(rep, "doc_id", "left")
                   .select("doc_id",
                           F.coalesce("group_rep",
                                      F.col("doc_id")).alias("group_rep")))
        return held.result(rep)
