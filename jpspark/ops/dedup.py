"""Deduplication operators over the documents table.

Exact (hash groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — the
training-data-pipeline staples. All signature computation is Arrow-batched
(pandas UDFs over NumPy); candidate generation is a band-bucket equi-join
(shuffle on short band keys only, never on document text); verification
re-joins text by doc id.

Scale notes: at 10^12 docs the LSH band join is the standard shape —
signatures are ~K*8 bytes/doc, bands hash-partition evenly (band-id salt
included in the key), and the verify join touches only candidate pairs.
"""

from __future__ import annotations

import atexit
import shutil as _shutil
import tempfile as _tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# live connected-components lineage-cut spill dirs. Superseded cuts are
# deleted eagerly inside the loop; the FINAL cut of each call must outlive
# the returned DataFrame (a cache-evicted recompute re-scans it), so it is
# only reclaimed here at interpreter exit.
_CC_CUT_DIRS: set[str] = set()

# analyzed-plan size (chars) above which connected_components cuts label
# lineage; ~2x this is the largest plan Catalyst ever re-analyzes
_CC_CUT_PLAN_CHARS = 30_000
# analyzed-plan size above which the CC edge frame is cut up front; flat
# edge frames (scans, local relations, generators) sit far below it
_CC_EDGE_CUT_PLAN_CHARS = 20_000

# CC loop tuning (round 7, measured on the bench's 2M-node graphs): rows
# per loop shuffle partition, and pointer jumps per round once a graph is
# still changing after two rounds
_CC_ROWS_PER_TASK = 250_000
_CC_DEEP_JUMPS = 5

# rounds used by the most recent connected_components() call on this
# driver — observability for benchmarks (round COUNT x per-round cost is
# the real cost model for deep graphs); not part of the result contract.
CC_LAST_ROUNDS: int = 0


@atexit.register
def _cleanup_cc_cut_dirs() -> None:
    for d in list(_CC_CUT_DIRS):
        _shutil.rmtree(d, ignore_errors=True)


def release_cc_spills() -> None:
    """Delete ALL retained connected-components spill dirs now. For
    long-lived drivers (streaming/iterative pipelines calling
    connected_components per batch) where waiting for interpreter exit
    would accumulate one final-cut dir per call. Only call after every
    DataFrame returned by earlier calls has been fully materialized and
    discarded — their lineage re-scans these files on recompute."""
    _cleanup_cc_cut_dirs()
    _CC_CUT_DIRS.clear()


class _LineageCut:
    """The lineage-cut policy of the iterative graph loops
    (connected_components here, shortest_paths in ops/graph.py).

    A loop whose plan grows per round cuts it flat once its analyzed plan
    passes a size (:meth:`due`), by storing the frame and restarting from
    the stored copy (:meth:`__call__`). Storage: with a cluster-visible
    checkpoint dir on the session (``sparkContext.setCheckpointDir``) the
    cut is Spark's ``df.checkpoint(eager=True)``, files managed by Spark;
    otherwise a parquet spill into a temp dir registered in
    ``_CC_CUT_DIRS``, chosen over ``localCheckpoint`` because its storage
    has a deterministic delete (a local checkpoint's cannot be released
    through any public handle — the round-4 cache leak). The spill is
    only correct where driver and executors share a filesystem, so
    construction fails loud on a non-local master without a checkpoint
    dir (the spill would scatter parquet across executor disks and the
    driver-side re-read would silently lose rows)."""

    def __init__(self, spark, caller: str, disable_hint: str, prefix: str):
        jsc = spark.sparkContext._jsc.sc()
        self.reliable = jsc.getCheckpointDir().isDefined()
        if not self.reliable and not jsc.isLocal():
            raise RuntimeError(
                f"{caller}: lineage cuts on a non-local master need a "
                "cluster-visible checkpoint dir — call "
                "spark.sparkContext.setCheckpointDir('<shared path>') first "
                "(the driver-local parquet spill is only correct in local mode), "
                f"or pass {disable_hint}"
            )
        self.prefix = prefix

    @staticmethod
    def due(df: DataFrame, limit: int | None = None) -> bool:
        """Whether ``df``'s analyzed plan is past ``limit`` chars
        (default ``_CC_CUT_PLAN_CHARS``)."""
        limit = _CC_CUT_PLAN_CHARS if limit is None else limit
        return len(df._jdf.queryExecution().analyzed().toString()) > limit

    def __call__(self, df: DataFrame, prev_dir: str | None = None, metric=None, cols=None):
        """Cut ``df``: store it, restart from a flat read of the stored
        copy, persist and materialize that, then delete ``prev_dir`` (the
        spill this cut supersedes). ``cols`` projects what is stored.

        Returns (cut frame, value, spill dir or None). ``value`` is the
        aggregate ``metric`` over ``df`` when given, else the cut's row
        count; both come out of jobs the cut runs anyway. A spill carries
        the metric as an Observation on its write; a checkpoint reads it
        off a cache of ``df`` that the checkpoint is then taken from. The
        returned dir must outlive the cut frame (a cache-evicted
        recompute re-scans it): it is reclaimed by the next cut's
        ``prev_dir``, :func:`release_cc_spills` or interpreter exit."""

        def stored(d: DataFrame) -> DataFrame:
            return d.select(*cols) if cols else d

        value = new_dir = None
        if self.reliable:
            if metric is not None:
                value = df.persist().agg(metric).collect()[0][0]
            # re-persisted: the loops reference the cut more than once
            # per round, and without a cache each reference re-reads the
            # checkpoint files
            cut = stored(df).checkpoint(eager=True).persist()
            n = cut.count()
            if metric is not None:
                df.unpersist()
        else:
            new_dir = _tempfile.mkdtemp(prefix=self.prefix)
            _CC_CUT_DIRS.add(new_dir)
            if metric is not None:
                obs = Observation()
                df = df.observe(obs, metric)
            stored(df).write.mode("overwrite").parquet(new_dir)
            if metric is not None:
                (value,) = obs.get.values()
            cut = df.sparkSession.read.parquet(new_dir).persist()
            n = cut.count()
        if prev_dir is not None:
            _shutil.rmtree(prev_dir, ignore_errors=True)
            _CC_CUT_DIRS.discard(prev_dir)
        return cut, (n if metric is None else value), new_dir


def _hash_u64(a: np.ndarray) -> np.ndarray:
    z = a.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _fnv_over_slices(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """FNV-1a 64 of N byte slices of ``flat``, evaluated column-at-a-time:
    iteration count = longest slice, work per iteration = one SIMD pass
    over the slices still live, so total work is O(total bytes) at NumPy
    rate. Round 7: slices are processed in descending-length order so the
    live set at column j is a contiguous PREFIX — each pass is a plain
    gather + two uint64 ops on h[:cnt], with no per-column mask matrices
    (the former (n x w) valid/idx/byte matrices dominated the kernel's
    cost) and no dead-lane work. A slice's hash only depends on its own
    bytes, so the reorder cannot change values; the result is scattered
    back through the sort permutation. Splitmix finalizer (+ length mix)
    restores high-bit diffusion for SimHash bit-voting;
    PYTHONHASHSEED-proof."""
    n = len(starts)
    if not n:
        return np.empty(0, dtype=np.uint64)
    order = np.argsort(-lens, kind="stable")
    st = starts[order]
    ln = lens[order]
    w = int(ln[0])
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(w):
            cnt = int(np.searchsorted(-ln, -j, side="left"))  # slices with len > j
            c = flat[st[:cnt] + j].astype(np.uint64)
            h[:cnt] = (h[:cnt] ^ c) * _FNV_PRIME
        out = np.empty(n, dtype=np.uint64)
        out[order] = _hash_u64(h ^ ln.astype(np.uint64))
    return out


def _hash_str_batch(strs: list[str]) -> np.ndarray:
    """Stable 64-bit hash of a BATCH of strings, fully vectorized (uint64).

    Round 3 replaces the per-string Python blake2b loop (the one
    interpreter-rate hot loop left in the signature kernels — at 10^12
    docs it dominated the dedup stage's CPU bill) with the column-wise
    FNV kernel above."""
    n = len(strs)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in strs]
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    flat = np.frombuffer(b"".join(bs), dtype=np.uint8) if lens.sum() else np.empty(0, np.uint8)
    return _fnv_over_slices(flat, starts, lens)


_ASCII_WS = np.zeros(256, dtype=bool)
_ASCII_WS[[9, 10, 11, 12, 13, 28, 29, 30, 31, 32]] = True  # str.split's ASCII set
_UNICODE_WS = tuple(
    ch.encode("utf-8")
    for ch in (
        "\x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006"
        "\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
    )
)
# UTF-8 lead bytes of the sequences above (0xC2, 0xE1, 0xE2, 0xE3): a
# batch with NONE of them cannot contain non-ASCII whitespace, so the
# 19-substring scan is gated behind one vectorized table gather (round 7
# \u2014 the sequential bytes.find calls re-walked the blob 19 times)
_UWS_LEAD = np.zeros(256, dtype=bool)
_UWS_LEAD[[u[0] for u in _UNICODE_WS]] = True


def _word_hashes_batch(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(word hashes in doc-major order, per-doc word counts) for a whole
    batch WITHOUT per-doc Python tokenization: the batch's UTF-8 bytes are
    scanned once as a NumPy array (separator-sentinel framed), word
    boundaries come from whitespace-run edges, and word hashes gather
    straight from the flat buffer — no per-word string objects at all.
    Exactly matches str.split() semantics: if any NON-ASCII whitespace
    sequence occurs in the batch (rare for web/corpus text), the batch
    falls back to the per-doc split path so hashes never diverge."""
    n = len(texts)
    bs = [(t or "").encode("utf-8") for t in texts]
    blob = b"\n".join(bs)
    flat = np.frombuffer(b"\n" + blob + b"\n", dtype=np.uint8)
    if _UWS_LEAD[flat].any() and any(blob.find(u) >= 0 for u in _UNICODE_WS):
        words_per = [(t or "").split() for t in texts]
        wcounts = np.fromiter(map(len, words_per), dtype=np.int64, count=n)
        return _hash_str_batch([w for ws in words_per for w in ws]), wcounts
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=n)
    ws = _ASCII_WS[flat]
    w_starts = np.where(~ws[1:] & ws[:-1])[0] + 1
    w_ends = np.where(~ws[:-1] & ws[1:])[0] + 1
    wlens = w_ends - w_starts
    # doc d occupies flat[1 + off_d : 1 + off_d + lens[d]] with off_d =
    # cumsum(lens+1)[d-1]; a word belongs to the doc whose span holds it
    doc_start_flat = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=doc_start_flat[1:])
    doc_start_flat += 1
    doc_of = np.searchsorted(doc_start_flat, w_starts, side="right") - 1
    wcounts = np.bincount(doc_of, minlength=n).astype(np.int64)
    return _fnv_over_slices(flat, w_starts, wlens), wcounts


def _gram_list(text: str, n: int) -> list[str]:
    """Word n-gram shingle strings (empty -> [''], <n words -> one joined
    gram) — the construction the DuckDB oracles mirror in SQL."""
    words = text.split()
    if len(words) < n:
        return [" ".join(words)] if words else [""]
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def _fold(g: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Order-sensitive combine of a running gram hash with the next word
    hash (wrapping multiply + xor + avalanche)."""
    return _hash_u64(g * _FNV_PRIME ^ h)


_EMPTY_GRAM = _hash_str_batch([""])[0]


def _gram_hashes_batch(texts: list[str], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat uint64 word-n-gram hashes for every doc of a batch (doc-major
    order) + per-doc gram counts. Gram STRINGS are never materialized:
    words are hashed once (vectorized) and each gram's hash is a
    polynomial fold of its n word hashes, computed as n-1 whole-batch
    NumPy passes over all windows at once — two docs share a gram hash
    iff they share the word sequence (same identity a joined string
    gives, minus the 3x re-hash of every byte). Mirrors _gram_list's
    shape rules: empty doc -> 1 sentinel gram, <n words -> one fold of
    all its words."""
    hs, wcounts = _word_hashes_batch(texts)
    n_words, docs_n = len(hs), len(texts)
    wstarts = np.zeros(docs_n, dtype=np.int64)
    np.cumsum(wcounts[:-1], out=wstarts[1:])
    gcounts = np.maximum(wcounts - n + 1, 1)
    gstarts = np.zeros(docs_n, dtype=np.int64)
    np.cumsum(gcounts[:-1], out=gstarts[1:])
    out = np.empty(int(gcounts.sum()), dtype=np.uint64)
    with np.errstate(over="ignore"):
        if n_words >= n:
            # every length-n window of the flat word-hash array, folded in
            # n-1 vector passes; windows that straddle a doc boundary are
            # masked out afterwards
            g = hs[: n_words - n + 1].copy()
            for j in range(1, n):
                g = _fold(g, hs[j : n_words - n + 1 + j])
            doc_of = np.repeat(np.arange(docs_n), wcounts)
            pos_in_doc = np.arange(n_words) - wstarts[doc_of]
            wd = doc_of[: n_words - n + 1]
            wp = pos_in_doc[: n_words - n + 1]
            valid = wp <= wcounts[wd] - n
            out[gstarts[wd[valid]] + wp[valid]] = g[valid]
        # short docs (0 < words < n): one gram folding all their words;
        # vectorized per length class (n-1 tiny passes)
        for length in range(1, n):
            dl = np.where(wcounts == length)[0]
            if not len(dl):
                continue
            g = hs[wstarts[dl]].copy()
            for j in range(1, length):
                g = _fold(g, hs[wstarts[dl] + j])
            out[gstarts[dl]] = g
    out[gstarts[wcounts == 0]] = _EMPTY_GRAM
    return out, gcounts


def _shingle_hashes(text: str, n: int = 3) -> np.ndarray:
    """Word n-gram shingles -> unique uint64 hashes."""
    return np.unique(_gram_hashes_batch([text], n)[0])


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: keeper = min id per hash group."""
    h = F.md5(F.col(text_col))
    return (
        docs.groupBy(h.alias("content_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(
    docs: DataFrame, k: int = 64, shingle_n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig: array<long>) — k-permutation MinHash via multiply-shift
    permutations h_c(x) = a_c*x + b_c (mod 2^64, a_c odd — a bijection on
    the 64-bit space), fully vectorized over shingles. Round 3 replaced
    the former (a*x+b) mod (2^61-1) form: the uint64 product overflowed
    before the reduction anyway (so it never was the clean universal
    family it claimed), and the per-element modular division dominated
    the stage's CPU bill; the bijective multiply-add keeps the MinHash
    agreement property with two cheap ops per gram per permutation."""
    rng = np.random.Generator(np.random.PCG64(1234))
    A = rng.integers(1, 1 << 62, size=k, dtype=np.uint64) | np.uint64(1)
    B = rng.integers(0, 1 << 62, size=k, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        # flatten the whole Arrow batch: one vectorized word-hash pass +
        # fold into gram hashes (no gram strings), then per-doc min via
        # segment-reduce — the only per-doc Python work is str.split.
        # Duplicate grams need no dedup (min is idempotent); docs always
        # emit >=1 gram, so reduceat boundaries are strictly increasing.
        hs, counts = _gram_hashes_batch(texts.tolist(), shingle_n)
        starts = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        sigs = np.empty((len(counts), k), dtype=np.uint64)
        with np.errstate(over="ignore"):
            # column-at-a-time keeps peak memory O(batch grams), not O(k x grams)
            for c in range(k):
                vals = A[c] * hs + B[c]
                sigs[:, c] = np.minimum.reduceat(vals, starts)
        return pd.Series(sigs.view(np.int64).tolist())

    return docs.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))


def _band_pairs(banded: DataFrame, key: str, payload: DataFrame | None = None) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one band key — the
    LSH band self-join behind minhash_lsh_pairs, hamming_block_pairs and
    embedding_neardup_lsh.

    ``banded`` is the explode leg: one row per (id, band key), the band
    index already folded into the single 8-byte ``key``. Any other column
    of it rides the explode leg and comes out as ``<col>_a``/``<col>_b``.
    The pair set is deduped on (id_a, id_b) before anything else joins,
    so the band exchange carries the explode leg's columns only. Each
    column of ``payload`` (keyed by ``id``) then re-joins once per side by
    id, as ``<col>_a``/``<col>_b``: a payload value crosses the wire once
    per surviving pair side, never on the band exchange."""
    carry = [c for c in banded.columns if c not in ("id", key)]

    def side(s: str) -> DataFrame:
        return banded.select(
            F.col("id").alias(f"id_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in carry], key
        )

    pairs = (
        side("a")
        .join(side("b"), [key])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry])
        .dropDuplicates(["id_a", "id_b"])
    )
    if payload is not None:
        for s in "ab":
            pairs = pairs.join(
                payload.select(*[F.col(c).alias(f"{c}_{s}") for c in payload.columns]),
                f"id_{s}",
            )
    return pairs


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4, min_jaccard_est: float = 0.0
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded LSH + estimated
    Jaccard = fraction of matching signature positions.

    Shuffle shape: the band exchange carries ONLY (id, bucket) — the
    full k-long signatures never ride the 2*bands-way explode (at 10^12
    docs that would be ~16 KB of avoidable shuffle per doc). The band
    index is folded into the bucket hash as a salt (round 7): buckets of
    different bands land in disjoint hash spaces, so the join keys on the
    single 8-byte bucket instead of (band, bucket), and the bucket itself
    is a native ``xxhash64`` over the band's long slots — no per-band
    string casting/concat on the explode leg. Equality classes are
    unchanged (same band + same 4 slots <=> same bucket, modulo the same
    2^-64 hash-collision tail the string form had). Signatures are
    re-joined once per side by id AFTER the candidate pairs are deduped,
    so each signature crosses the wire once per surviving pair side.

    NOTE: ``sigs`` appears in THREE subtrees of the plan (band explode +
    both re-joins); persist/checkpoint it before calling, or the signature
    UDF recomputes per subtree."""
    k = bands * rows_per_band
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    pairs = _band_pairs(banded, "bucket", payload=sigs.select("id", "sig"))
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(k)
    ).alias("jaccard_est")
    return pairs.select("id_a", "id_b", est).filter(F.col("jaccard_est") >= min_jaccard_est)


def simhash64_np(texts) -> np.ndarray:
    """64-bit SimHash over word-unigram hashes (pure NumPy kernel) — shared
    by the pandas UDF and by oracle builders that need the same values
    without a SparkSession.

    Vectorized across the whole batch (round 3): one hash pass over every
    word of every doc, then per-bit majority votes via segment-reduce over
    the (sorted-by-construction) doc boundaries. Peak memory stays O(total
    words) — the bit loop trades 64 cheap passes for never materializing a
    words x 64 matrix."""
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    hs, counts = _word_hashes_batch(texts)
    nz = np.where(counts > 0)[0]
    if not len(nz):
        return out
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    seg = starts[nz]  # empty docs occupy zero rows, so segments stay valid
    sh = np.zeros(len(nz), dtype=np.uint64)
    for b in range(64):
        col = ((hs >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
        votes = 2 * np.add.reduceat(col, seg) - counts[nz]
        sh |= (votes > 0).astype(np.uint64) << np.uint64(b)
    out[nz] = sh.view(np.int64)
    return out


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash over word-unigram hashes."""

    @F.pandas_udf(T.LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64_np(texts.tolist()))

    return docs.select(F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash"))


def hamming_block_pairs(
    hashes: DataFrame,
    hash_col: str,
    max_hamming: int,
    id_col: str = "id",
    n_blocks: int | None = None,
    key_blocks: int = 1,
) -> DataFrame:
    """EXACT near-dup pairs (id_a < id_b, hamming <= max_hamming) over a
    64-bit hash column, via the Manku/Jain/Sarma WWW'07 block-permutation
    scheme expressed as one Spark equi-join.

    Recall guarantee (pigeonhole): the 64 bits are split into ``n_blocks``
    contiguous blocks and every combination of ``key_blocks`` of them is
    emitted as a join key. A pair differing in <= max_hamming bits has its
    differing bits inside <= max_hamming blocks, so >= n_blocks -
    max_hamming blocks agree entirely; whenever
    ``key_blocks <= n_blocks - max_hamming`` (asserted) at least one
    emitted combination is drawn fully from agreeing blocks and the pair
    meets in the join. The popcount filter removes false candidates, so
    the output is the exact Hamming-ball pair set — no silent misses.

    Scale tuning: defaults (n_blocks = max_hamming + 1, key_blocks = 1)
    give 64/(h+1)-bit buckets — fine up to ~1e8 rows. At 10^12 rows raise
    both (e.g. n_blocks=12, key_blocks=4 -> C(12,4)=495 keys of ~21 bits)
    to trade explode factor for exponentially finer buckets; the guarantee
    holds for any key_blocks <= n_blocks - max_hamming.

    Shuffle shape: one explode -> single equi-join on one 8-byte key hash
    (combo index salted into the hash); each side carries only (id, 8-byte
    hash, 8-byte key).
    """
    n_blocks = n_blocks or (max_hamming + key_blocks)
    if key_blocks > n_blocks - max_hamming:
        raise ValueError(
            f"no recall guarantee: key_blocks={key_blocks} > "
            f"n_blocks({n_blocks}) - max_hamming({max_hamming})"
        )
    if n_blocks > 64:
        raise ValueError("n_blocks must be <= 64 for a 64-bit hash")
    from itertools import combinations

    bounds = np.linspace(0, 64, n_blocks + 1).astype(int)
    block_vals = [
        F.shiftrightunsigned(F.col("h"), int(bounds[i])).bitwiseAND(
            F.lit(int((1 << int(bounds[i + 1] - bounds[i])) - 1))
        )
        for i in range(n_blocks)
    ]
    combos = list(combinations(range(n_blocks), key_blocks))
    # xxhash64 over (combo index, block values): collisions only ADD
    # candidates (removed by the popcount filter), never lose true pairs.
    # The combo index rides INSIDE the hash as a salt (round 7), so
    # different combos occupy disjoint key spaces and the join keys on the
    # single 8-byte kv instead of (combo, kv) — one fewer key column on
    # the explode exchange and the join.
    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), *[block_vals[j] for j in combo])
            for ci, combo in enumerate(combos)
        ]
    )
    h = (
        hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .select("id", "h", F.explode(keys).alias("kv"))
    )
    cand = _band_pairs(h, "kv")
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming")
    return cand.select("id_a", "id_b", ham).filter(F.col("hamming") <= max_hamming)


def simhash_neardup_pairs(hashes: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — exact pair set with a
    guaranteed-recall block join (see hamming_block_pairs): max_hamming=8
    uses 9 blocks, so any pair within the radius shares a whole block."""
    return hamming_block_pairs(hashes, "simhash", max_hamming)


def _jaccard_pairs_batch(ta: list, tb: list, shingle_n: int) -> np.ndarray:
    """Exact shingle-set Jaccard for a batch of (text_a, text_b) pairs.

    Round 7: the batch's pair texts are FACTORIZED, so each distinct doc
    is gram-hashed and sorted-uniqued once per batch (candidate lists
    repeat a doc once per surviving pair, and exact-dup corpora repeat
    whole texts verbatim), and the set intersection runs once per
    distinct (text_a, text_b) pair. Equal-text pairs short-circuit to
    jaccard 1.0 (inter == union by identity — exactly the division the
    per-pair form computed). Values stay bit-identical to the round-3
    per-pair kernel: the same unique-hash sets feed the same
    exact-int division. NULL texts gram like empty strings (the ``t or
    ""`` the per-pair form applied inside the hash kernel)."""
    n = len(ta)
    if not n:
        return np.empty(0)
    texts = np.array(
        [t if t is not None else "" for t in ta + tb], dtype=object
    )
    codes, uniq = pd.factorize(texts)
    hs, cnts = _gram_hashes_batch(uniq.tolist(), shingle_n)
    offs = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(cnts, out=offs[1:])
    sets = [np.unique(hs[offs[i] : offs[i + 1]]) for i in range(len(uniq))]
    pair_key = codes[:n].astype(np.int64) * len(uniq) + codes[n:]
    up, inv = np.unique(pair_key, return_inverse=True)
    vals = np.empty(len(up))
    for k, pk in enumerate(up):
        i, j = divmod(int(pk), len(uniq))
        if i == j:
            vals[k] = 1.0
            continue
        sa, sb = sets[i], sets[j]
        inter = len(np.intersect1d(sa, sb, assume_unique=True))
        union = len(sa) + len(sb) - inter
        vals[k] = inter / union if union else 1.0
    return vals[inv]


def ngram_jaccard_pairs(
    docs: DataFrame, candidates: DataFrame, shingle_n: int = 3, min_jaccard: float = 0.7,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate (id_a, id_b) pairs:
    re-join text by id, compute true shingle-set Jaccard in a vectorized
    kernel. The verify step of the MinHash pipeline."""
    d = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    joined = (
        candidates.join(d.withColumnRenamed("id", "id_a").withColumnRenamed("txt", "txt_a"), "id_a")
        .join(d.withColumnRenamed("id", "id_b").withColumnRenamed("txt", "txt_b"), "id_b")
    )

    @F.pandas_udf(T.DoubleType())
    def jac_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return pd.Series(_jaccard_pairs_batch(ta.tolist(), tb.tolist(), shingle_n))

    return (
        joined.withColumn("jaccard", jac_udf("txt_a", "txt_b"))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for each *test* (benchmark) document,
    measure its word-n-gram overlap with the *train* corpus — the
    standard contamination check run before training on web-scale text
    (the n-gram variant of the GPT-3/PaLM decontamination recipe).

    Returns one row per test doc: ``n_ngrams`` (distinct n-grams),
    ``n_hit`` (of those, how many occur anywhere in train),
    ``contamination`` (hit ratio, round 4), ``n_train_docs`` (distinct
    train docs sharing at least one n-gram).

    100-TB shape: both sides explode to (id, xxhash64(n-gram words)) —
    fixed-width 8-byte keys, never raw text (round 7: hashing the word
    slice directly replaces the former md5-over-joined-string key — the
    same containment identity at half the key payload and none of the
    per-window string building) — dedup per doc map-side, then ONE
    shuffle hash join on the n-gram key followed by a keyed two-phase
    aggregate. Train-side n-grams are pre-deduped per (train_doc, gram)
    so the join fan-out is bounded by true containment, not term
    frequency. No all-pairs, no Python.
    """
    def _grams(df: DataFrame) -> DataFrame:
        words = F.split(F.trim(F.col(text_col)), r"\s+")
        base = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
        grams = F.when(
            F.size("_w") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - n + 1),
                lambda i: F.xxhash64(F.slice("_w", i, n)),
            ),
        ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        # explode_outer: a doc with < n words keeps one null-gram row so
        # it still appears in the output (n_ngrams = 0) instead of being
        # silently dropped; countDistinct and the equi-join both ignore
        # the null
        return (
            base.select("_id", F.explode_outer(grams).alias("gram"))
            .distinct()
        )

    tr = _grams(train).filter(F.col("gram").isNotNull()).withColumnRenamed("_id", "train_id")
    te = _grams(test)
    hits = te.join(tr, "gram", "left")
    return (
        hits.groupBy("_id")
        .agg(
            F.countDistinct("gram").alias("n_ngrams"),
            F.countDistinct(
                F.when(F.col("train_id").isNotNull(), F.col("gram"))
            ).alias("n_hit"),
            F.countDistinct("train_id").alias("n_train_docs"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_ngrams",
            "n_hit",
            F.when(
                F.col("n_ngrams") > 0,
                F.round(F.col("n_hit") / F.col("n_ngrams"), 4),
            ).alias("contamination"),
            "n_train_docs",
        )
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.99,
    n_bits: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the 10^12-row scale path
    that replaces embedding_neardup_pairs' all-pairs default: candidates
    are pairs sharing >=1 hyperplane-LSH band (equi-join on (band, value),
    ~n/2^band_bits per bucket), verified by exact cosine >= threshold.

    Recall: structural for EXACT duplicates (identical vectors -> identical
    sketch -> share every band) — the dominant dedup case (re-encoded /
    re-crawled items); for merely-similar vectors recall is the standard
    1-(1-p^r)^b LSH curve (measured against brute force in pytest).

    Shuffle shape mirrors minhash_lsh_pairs: the band exchange carries
    only (id, composite band key); vectors re-join by id after pair dedup.
    """
    from .similarity import hyperplane_sketch

    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    sk = hyperplane_sketch(emb, n_bits, id_col=id_col, vec_col=vec_col)
    # single EXACT composite key band*2^band_bits + bval (round 7): the
    # band index occupies disjoint high bits, so the join keys on one long
    # instead of (band, bval) with provably identical equality classes —
    # no hash, no collision tail, one fewer key column on the exchange
    banded = sk.select(
        "id",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftrightunsigned(F.col("sketch"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        + F.lit(i * (mask + 1))
                    ).alias("bkey")
                    for i in range(n_bands)
                ]
            )
        ).alias("bkey"),
    )
    v = emb.select(
        F.col(id_col).alias("id"), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    pairs = _band_pairs(banded, "bkey", payload=v)
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform("v_a", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform("v_b", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (
        pairs.withColumn("cosine", dot / (na * nb))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding",
    bucket_expr=None, allow_all_pairs: bool = False,
) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity. ``bucket_expr``
    restricts the pair space (e.g. an LSH bucket or a label) and is
    REQUIRED: the all-pairs regime is O(n^2) shuffle and only sane as an
    exactness baseline on bounded inputs, so it must be opted into
    explicitly with ``allow_all_pairs=True`` (the scale path is
    embedding_neardup_lsh). The contract is mechanical, not a docstring."""
    if bucket_expr is None and not allow_all_pairs:
        raise ValueError(
            "embedding_neardup_pairs without bucket_expr is an O(n^2) cross "
            "join; pass bucket_expr=... (or allow_all_pairs=True for a "
            "bounded exact baseline, or use embedding_neardup_lsh at scale)"
        )
    e = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        (bucket_expr if bucket_expr is not None else F.lit(0)).alias("bkt"),
    )
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "bkt")
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "bkt")
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform("v_a", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform("v_b", lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return (
        a.join(b, "bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (na * nb))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
    checkpoint_interval: int = 2,
) -> DataFrame:
    """Distributed connected components over a near-dup pair graph — the
    cluster-RESOLUTION step dedup needs after pair finding: verified
    pairs only say "a ~ b"; keeping one document per GROUP requires the
    transitive closure (a~b, b~c => one cluster {a,b,c}).

    Algorithm: min-label propagation with pointer jumping. Every round
    (1) each node adopts the minimum label in its closed neighborhood
    (one shuffle keyed on node id, labels-only exchange — 2 longs per
    edge, never document payloads), then (2) labels chase their own
    label's label (label(node) <- label(label(node))), which collapses
    chains exponentially — the classic combination converges in
    O(log n) rounds (cf. the MapReduce CC family: Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14; near-dup
    clusters are tiny-diameter, so 2-4 rounds in practice).

    Driver involvement per round is ONE scalar (the changed-label
    count); each round's label frame is fully materialized into the
    cache before the previous round's cache is released, so execution
    never re-walks the chain of rounds.

    Lineage discipline: the logical plan grows with every round (the
    pointer jump is a self-join, so it DOUBLES per round), and on graphs
    deeper than a few rounds Catalyst ANALYSIS time becomes the
    bottleneck long before execution does (a depth-3 run already
    produces a ~47k-line EXPLAIN). Cuts are therefore SIZE-triggered,
    not round-counted: each round the loop checks the analyzed-plan size
    and, once it crosses ``_CC_CUT_PLAN_CHARS``, cuts the label frame
    flat through :class:`_LineageCut` (a parquet spill re-read as a
    fresh scan in local mode, ``df.checkpoint`` on a session with a
    checkpoint dir) — the GraphFrames checkpointInterval idea made
    adaptive, with DETERMINISTIC cleanup: the superseded spill is
    deleted as soon as the next cut lands, so at most two spills are
    ever live per call (the ids-only edge materialization and the latest
    label cut). Deep graphs stay bounded at ~2x the threshold;
    tiny-diameter near-dup graphs over flat edge frames converge in 2-4
    rounds and never pay a cut. ``checkpoint_interval`` only switches
    cutting: any non-zero value enables the size trigger, 0 disables
    cutting entirely. The final spill dir (if any) must outlive the
    returned frame (recompute re-scans it); it is removed at interpreter
    exit, or earlier via :func:`release_cc_spills` (long-lived drivers
    calling this per batch should release between batches).

    Returns (node, component) with component = min reachable
    node id; nodes are the edge endpoints (callers left-join their full
    id set and coalesce singletons to themselves).
    """
    spark = edges.sparkSession
    cut = (
        _LineageCut(
            spark,
            "connected_components",
            "checkpoint_interval=0 to disable cutting for small-diameter graphs",
            "jpspark_cc_cut_",
        )
        if checkpoint_interval
        else None
    )
    # NOTE: the symmetric edge set is deduped AFTER the dst repartition
    # below — hash partitioning on dst co-locates every (src, dst) twin,
    # so the dropDuplicates aggregate runs on the repartition exchange's
    # output without a second full-edge exchange (round 7; the former
    # distinct-then-repartition shape paid two). The spill (when it
    # fires) therefore writes the raw union including duplicates — fine
    # for the pair tables that reach this operator (already deduped);
    # n_sym below is correspondingly an upper bound, which only sizes
    # partitions.
    sym = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # cut the EDGE lineage up front when it is worth cutting: sym is
    # referenced once per round and the pointer-jump self-join doubles
    # every reference, so an upstream pair-finding pipeline (MinHash ->
    # verify) embedded in sym's plan multiplies into a 10^4-line EXPLAIN
    # by round 2 even before any label cut fires. One ids-only
    # materialization makes every reference a flat scan — also the right
    # barrier at scale (edges are re-read ~2x per round). Edges that are
    # ALREADY flat (a scan, a local relation, a simple generator — the
    # common case for pre-materialized pair tables) skip the spill: it
    # would cost a parquet round trip to bound a plan that is bounded.
    if cut is not None and cut.due(sym, _CC_EDGE_CUT_PLAN_CHARS):
        sym0, n_sym, _ = cut(sym)
    else:
        sym0 = sym.persist()
        n_sym = sym0.count()
    cut_dir: str | None = None

    # ---- round-7 loop tuning (guide §2.2/§2.4: fewer/larger partitions,
    # remove repeated shuffles). The per-round frames are fixed-width
    # (node, label) pairs a few MB per million rows, so at bench scale the
    # loop is TASK-OVERHEAD-bound, not byte-bound: sizing the loop's
    # shuffle to ~_CC_ROWS_PER_TASK rows per partition (capped at the
    # session's configured parallelism, so cluster configs are never
    # exceeded) cut the 2M-node chain bench ~35%. The edge frame is
    # additionally hash-partitioned by dst ONCE and persisted — every
    # round's message join then reuses that partitioning instead of
    # re-exchanging the (larger) edge side per round. AQE re-plans every
    # adaptive stage of every round; for this loop's uniform fixed-width
    # exchanges that planning overhead buys nothing, so it is disabled
    # INSIDE the loop by default (JPSPARK_CC_AQE=1 restores it, e.g. for
    # clusters that want runtime skew-splitting of a giant component's
    # label partition) and always restored afterwards. The conf toggle is
    # session-scoped: a driver running OTHER queries concurrently with a
    # CC call (this engine's harnesses never do) would see the loop's
    # AQE/partition settings for the loop's duration.
    import os as _os

    default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # parallelism floor: once the graph has enough rows to give every
    # task >= 2k rows, run at least 8-way — a medium graph collapsed to
    # 1-2 partitions serializes every round on one core (measured ~25%
    # slower on a 60k-node graph than 8-12-way)
    floor_p = min(8, default_p, max(1, -(-n_sym // 2000)))
    P = min(default_p, max(floor_p, -(-n_sym // _CC_ROWS_PER_TASK)))
    keep_aqe = _os.environ.get("JPSPARK_CC_AQE", "0") == "1"
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    global CC_LAST_ROUNDS
    try:
        if not keep_aqe:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(P))
        sym = (
            sym0.repartition(P, "dst")
            .dropDuplicates(["src", "dst"])
            .persist()
        )
        # labels init from DST, not src: sym is symmetric (both directions
        # present), so distinct node sets are equal either way — but sym
        # is hash-partitioned by dst, so the dst distinct satisfies its
        # clustering requirement and plans with ZERO additional exchange
        # (the src form paid one; round 7)
        labels = pinned = (
            sym.select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .persist()
        )
        # one materialization pass: the distinct scans EVERY sym partition,
        # so this count fills both caches — a separate sym.count() job
        # would re-walk the edge set for nothing
        labels.count()
        sym0.unpersist()
        label_t = labels.schema["label"].dataType
        for rnd in range(max_rounds):
            # (1) closed-neighborhood min in ONE keyed aggregation (round
            # 7): neighbor messages and the node's own label ride one
            # union into a single groupBy — the former
            # join+groupBy+left-join (two reduce stages) is now one. The
            # old label travels as a third column that is NULL on the
            # message leg; max() ignores NULLs and every node has exactly
            # one labels-leg row, so max(old) IS the node's previous
            # label — works for any orderable id type (string ids
            # included), unlike an arithmetic-sum convergence probe.
            msgs = sym.join(labels, sym.dst == labels.node).select(
                F.col("src").alias("node"),
                "label",
                F.lit(None).cast(label_t).alias("old_label"),
            )
            own = labels.select(
                "node", "label", F.col("label").alias("old_label")
            )
            stepped = (
                msgs.unionByName(own)
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.max("old_label").alias("old_label"),
                )
            )
            # (2) pointer jump: label <- label(label). A graph still
            # changing after two full rounds is DEEP (near-dup stars
            # converge in 2), so later rounds jump `_CC_DEEP_JUMPS` (5)
            # times — each extra jump is one more self-join but
            # collapses label-chain depth ~2x, cutting the
            # ROUND count (round cost is overhead-bound, so fewer rounds
            # beat cheaper rounds; on the 2M-node diameter-127 chain,
            # 3 jumps measured 30s -> 18s/5 rounds vs the round-6 loop,
            # and 5 jumps 4 rounds/~16s; 4 jumps still needs 5 rounds,
            # >=6 stays at 4 rounds while paying extra exchanges, and an
            # escalating 1,1,3,5,7 schedule also still needs 5 rounds —
            # all measured, so 5 is the plateau point. Near-dup graphs
            # never reach round 2, so the deep-jump choice costs flat
            # graphs nothing).
            # Intermediate jumps are persisted for the duration of the
            # round's job: unpersisted, the nested self-joins re-execute
            # the whole round subtree per reference (measured 2-4x
            # blowup).
            n_jumps = 1 if rnd < 2 else _CC_DEEP_JUMPS
            j = stepped
            mids = []
            for ji in range(n_jumps):
                if ji > 0:
                    j = j.persist()
                    mids.append(j)
                parent = j.select(
                    F.col("node").alias("p_node"), F.col("label").alias("p_label")
                )
                j = (
                    j.join(parent, j.label == parent.p_node, "left")
                    .select(
                        "node",
                        "old_label",
                        F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
                    )
                )
            # the cut check runs on EVERY round, converged one included:
            # multi-jump rounds grow the plan ~2^(jumps+1)x, so a deep
            # graph's final round would otherwise hand back a plan far
            # past the bound (the returned frame's analyzed size is the
            # contract the lineage-cut test pins). Checking the size every
            # round is cheap by induction — the plan never exceeds ~2x the
            # threshold before a cut fires — while tiny-diameter graphs
            # over flat edge frames (the near-dup common case) never pay a
            # cut at all.
            _changed_agg = F.sum(
                (F.col("label") != F.col("old_label")).cast("long")
            ).alias("n")
            if cut is not None and cut.due(j):
                # the convergence scalar comes out of the cut's own jobs
                # (round 7: on a spill it rides the write as an observed
                # metric, so a cut round runs the write plus the re-read's
                # cache-fill count and no separate aggregate job)
                kept, changed, cut_dir = cut(
                    j, cut_dir, metric=_changed_agg, cols=("node", "label")
                )
                labels = kept
            else:
                kept = j.persist()
                # convergence probe via ONE full aggregate: it must scan
                # every partition so the ENTIRE frame lands in the cache
                # before the parent is unpersisted below — a short-circuit
                # probe (isEmpty) leaves unvisited partitions uncached and
                # every later scan recomputes the full round lineage
                # recursively (measured blowup: 5s/round -> 55s by round 4)
                changed = kept.agg(_changed_agg).collect()[0][0]
                labels = kept.select("node", "label")
            for m in mids:
                m.unpersist()
            pinned.unpersist()
            pinned = kept  # persisted handle backing labels
            if not changed:
                CC_LAST_ROUNDS = rnd + 1
                break
        else:
            sym.unpersist()
            pinned.unpersist()
            raise RuntimeError(
                f"connected_components: no convergence in {max_rounds} rounds "
                "(graph diameter beyond the pointer-jump budget)"
            )
        sym.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    # the final round's cache (pinned) backs the returned frame
    return labels.select("node", F.col("label").alias("component"))


def chunk_documents(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 10
) -> DataFrame:
    """Cut each document into consecutive ``width``-word chunks — the
    deterministic "line" unit of CCNet/C4-style sub-document dedup.
    Pure Column algebra (split/sequence/transform/slice — whole-stage
    codegen, no Python). Returns (id, pos, chunk); empty/whitespace text
    yields one empty chunk (the [''] split convention every text oracle
    in this engine shares)."""
    base = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("ws")
    )
    n_chunks = F.expr(f"CAST(ceil(size(ws) / {width}.0) AS INT)")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("ws"), i * width + 1, width), " "),
    )
    return base.select(F.col(id_col), F.posexplode(chunks).alias("pos", "chunk"))


def duplicated_substring_spans(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact substring dedup anchors, word granularity — the distributed
    form of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): every k-word window whose text occurs MORE THAN ONCE
    across the corpus (counting all positions, within- and cross-document)
    anchors a duplicated span; overlapping/adjacent anchors merge into
    maximal spans per document.

    Returns one row per maximal span: (id, span_start, span_end) as
    half-open word-index intervals [span_start, span_end).

    100-TB shape: positions explode to (id, start, xxhash64(gram words))
    — fixed 8-byte keys, never raw text (round 7: the former
    md5(array_join(...)) built and crypto-hashed a gram STRING per
    window; hashing the word slice directly is the same identity — two
    windows collide iff their word sequences hash-collide — at half the
    key payload and a fraction of the per-window CPU). Corpus frequency
    is ONE shuffle on the gram key: a count window over the gram
    partition replaces the former groupBy+re-join, whose two subtrees
    each re-computed the explode+hash pass (their exchanges carry
    different column sets, so Spark cannot reuse one for the other). A
    corpus-wide hot gram lands on a single reducer in either shape (the
    equi-join placed anchor rows identically), so the skew profile is
    unchanged. Span merge is one keyed window over (id, start, end)
    triples. The reference's loader has no sub-document dedup at all (it
    delegates row-level conflict handling to PostGIS upserts,
    NOTES.md:96-133); this is the training-data-pipeline extension of
    that conflict-skip semantics to substring granularity.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col).alias("_id"), words.alias("_w"))
    # guard: sequence(0, n-k) is DESCENDING when n < k (Spark sequence
    # never returns empty for reversed bounds) — gate on size first
    grams = F.when(
        F.size("_w") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("_w") - k),
            lambda i: F.struct(
                i.cast("int").alias("s"),
                F.xxhash64(F.slice("_w", i + 1, k)).alias("g"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<s INT, g BIGINT>>)"))
    anchors = base.select("_id", F.explode(grams).alias("a")).select(
        "_id", F.col("a.s").alias("s"), F.col("a.g").alias("gram")
    )
    from pyspark.sql import Window

    w_gram = Window.partitionBy("gram")
    # e = s + k is strictly monotone in s, so the span merge never needs
    # an explicit end column on the wire (round 7): max(e) over any set
    # == max(s) + k, and the break test s > prev_max_e rewrites to
    # s > prev_max_s + k — the per-doc exchange carries (_id, s) only
    hits = (
        anchors.withColumn("cnt", F.count("*").over(w_gram))
        .filter(F.col("cnt") > 1)
        .select("_id", "s")
    )

    w_doc = Window.partitionBy("_id").orderBy("s")
    prev_max_s = F.max("s").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "brk",
        F.when(
            prev_max_s.isNull() | (F.col("s") > prev_max_s + F.lit(int(k))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "grp", F.sum("brk").over(w_doc.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy("_id", "grp")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + F.lit(int(k))).alias("span_end"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_end")
    )


def strip_duplicated_substrings(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Remove every maximal duplicated span found by
    :func:`duplicated_substring_spans` from each document and report the
    damage: (id, n_words, n_spans, dup_words, text_clean).

    The only place text meets the span list is the final per-id join; at
    scale a corpus bucketed by id keeps the text in place (span lists are
    tiny relative to text and hash to the same buckets), and at test SF
    AQE broadcasts the aggregated span side. Round 7: the doc side joins
    as RAW text and splits AFTER the join — when the join does shuffle
    (sort-merge at bench scale), the exchange and its sort move one flat
    string per doc instead of a per-word array (hundreds of offset-length
    framed elements in the UnsafeRow), and the split runs once instead of
    being serialized. Word filtering is a codegen higher-order filter
    with the positional lambda index; no Python."""
    spans = duplicated_substring_spans(docs, k=k, text_col=text_col, id_col=id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e")))
        ).alias("ivs"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_words"),
    )
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = (
        docs.select(F.col(id_col), F.col(text_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            words.alias("_w"),
            F.coalesce(
                "ivs", F.expr("CAST(array() AS ARRAY<STRUCT<s INT, e INT>>)")
            ).alias("ivs"),
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("dup_words", F.lit(0).cast("long")).alias("dup_words"),
        )
    )
    kept = F.filter(
        "_w",
        lambda x, i: ~F.exists(
            "ivs", lambda iv: (i >= iv["s"]) & (i < iv["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_w").alias("n_words"),
        "n_spans",
        "dup_words",
        F.array_join(kept, " ").alias("text_clean"),
    )
