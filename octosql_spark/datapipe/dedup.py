"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard. All signature computation is pure Catalyst expressions
(xxhash64 / transform / aggregate — whole-stage codegen, no Python in
the row path); candidate generation is a bucket equi-join, which is
the only shuffle and scales as O(candidates), not O(n²).

Signature/shingle tables are ``persist()``ed inside the pair
operators — the bucket-join topology consumes them from 2-3 branches
and would otherwise recompute every signature per branch. Blocks are
LRU-evicted by Spark; a driver batch-processing many corpora can
``spark.catalog.clearCache()`` between them.

Scale design (the 100 TB story):
- signatures: narrow map-side work, pipelined with the scan;
- LSH banding: shuffle keyed on (band_id, band_hash) — uniform by
  construction since band hashes are xxhash64 outputs; a pathological
  bucket (e.g. empty documents) is capped with ``max_bucket`` before
  the self-join to avoid a quadratic blowup;
- pair verification: joins only within buckets; exact Jaccard uses
  array_intersect on the (deduplicated) shingle arrays.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Exact dedup: hash-groupBy on the content columns, keep the
    min/max id as representative. One shuffle, map-side combined."""
    cols = cols or [c for c in df.columns if c != id_col]
    rep = F.min(id_col) if keep == "min" else F.max(id_col)
    return (df.groupBy(*cols)
            .agg(rep.alias(id_col), F.count(F.lit(True)).alias("dup_count"))
            .select(id_col, "dup_count", *cols))


def _word_shingles(text: Column, n: int) -> Column:
    """n-word shingles as an array<string>, distinct. Built from
    split + sequence + transform + slice — all codegen'd.

    NULL text → EMPTY array (no shingles, so null docs never pair):
    without the guard, ``concat_ws`` coerces the null slice to ``''``
    and a null doc silently shared the empty-text shingle — pairing
    with every ''-text doc at 1.0 while the DuckDB oracles' unnest
    over a NULL list yields no inverted-index rows at all (r8 review
    chase; latent until a null-text corpus)."""
    words = F.split(F.trim(text), r"\s+")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), k)
    return F.when(text.isNull(), F.array().cast("array<string>")) \
        .otherwise(F.array_distinct(
            F.transform(idx,
                        lambda i: F.concat_ws(" ", F.slice(words, i, n)))))


_MERSENNE31 = (1 << 31) - 1


def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutation
    family h_i(x) = (a_i * x + b_i) mod p — fixed seed so signatures
    are reproducible across runs/machines."""
    import random
    rng = random.Random(0xC0FFEE)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
            for _ in range(num_hashes)]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       num_hashes: int = 64, shingle: int = 3,
                       out_col: str = "minhash",
                       shingles_out: str | None = None) -> DataFrame:
    """MinHash signature via the standard universal-hash construction:
    ONE string-hash pass (xxhash64 per shingle, reduced mod a Mersenne
    prime), then k cheap affine permutations h_i(x) = (a_i·x + b_i)
    mod p — arithmetic on longs instead of k string hashes (~10×
    cheaper signatures; all operands stay < 2^62 so ANSI-mode long
    arithmetic cannot overflow).

    ``shingles_out``: when set, the intermediate shingle array is kept
    as a column of that name — callers that also need the raw shingles
    (the LSH verify join) get them from the SAME pass instead of
    re-shingling in a second subtree."""
    sh = _word_shingles(F.col(text_col), shingle)
    if shingles_out is not None:
        df = df.withColumn(shingles_out, sh)
        sh = F.col(shingles_out)
    p = F.lit(_MERSENNE31)
    df = df.withColumn(
        "_base", F.transform(sh, lambda s: F.pmod(F.xxhash64(s), p)))

    # NB: a Python lambda passed to transform/aggregate must declare
    # EXACTLY the lambda-variable arity — a `seed=i` default would be
    # bound to the element-index variable by PySpark's HOF binding.
    def _perm_min(a: int, b: int) -> Column:
        def _affine(h: Column) -> Column:
            return (F.lit(a) * h + F.lit(b)) % p
        return F.array_min(F.transform(F.col("_base"), _affine))

    sig = F.array(*[_perm_min(a, b) for a, b in _perm_consts(num_hashes)])
    return df.withColumn(out_col, sig).drop("_base")


def _band_table(sigs: DataFrame, id_col: str, num_hashes: int,
                bands: int) -> DataFrame:
    """LSH band table (id, band_id, band_hash) from a signature table
    (id, minhash): one 8-byte hash per band — the join key for both
    self-join (within-corpus pairs) and probe-join (ingest) shapes."""
    rows_per_band = num_hashes // bands
    band_arr = F.array(*[
        F.xxhash64(F.lit(b), *[F.col("minhash")[b * rows_per_band + r]
                               for r in range(rows_per_band)])
        for b in range(bands)
    ])
    return (sigs
            .withColumn("_band", F.explode(
                F.transform(band_arr, lambda h, i: F.struct(
                    i.alias("band_id"), h.alias("band_hash")))))
            .select(id_col,
                    F.col("_band.band_id").alias("band_id"),
                    F.col("_band.band_hash").alias("band_hash")))


import threading as _threading

# memoized collapse verdicts, keyed on (analyzed-plan semanticHash,
# input-file fingerprint). Guarded by a lock: concurrent queries share
# one session (thread-per-query CLI), and an unguarded probe+evict
# raced with another thread's insert (r9 advice).
_COLLAPSE_MEMO: dict[tuple, bool] = {}
_COLLAPSE_LOCK = _threading.Lock()


_PINNED_LEAVES = {"LocalRelation", "LogicalRDD", "OneRowRelation",
                  "Range"}


def _data_pinned(df: DataFrame) -> bool:
    """True when every leaf of the analyzed plan embeds (or pins) its
    own data — LocalRelation rows live in the plan, a LogicalRDD is
    tied to one immutable RDD — so the semanticHash alone is a valid
    memo key. External scans (files, JDBC, DSv2) can serve different
    data under an identical plan and must be fingerprinted instead."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return all(leaves.apply(i).nodeName() in _PINNED_LEAVES
                   for i in range(leaves.size()))
    except Exception:  # noqa: BLE001 — connect mode / plan shape
        return False


def _input_fingerprint(df: DataFrame) -> str | None:
    """Staleness key for file-backed plans: a hash of the sorted
    (path, mtime, size) of the plan's input files. Two reads of the
    SAME path share a Catalyst semanticHash even after the files are
    replaced, so a memo keyed on the plan alone survived data
    replacement (r9 advice); the fingerprint changes with the data.
    Returns None when the plan has no input files (in-memory frames
    embed their data in the plan, so the semanticHash already tracks
    the data) or the listing fails — callers must NOT memoize a
    non-local plan without a fingerprint (e.g. JDBC, where the data
    can change under an identical plan)."""
    import hashlib
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming frames
        return None
    if not files:
        return None
    if len(files) > 100_000:
        # a listing this large is driver-memory pressure to stat
        # twice per probe; skip the memo rather than the probe
        return None
    h = hashlib.sha1()
    for uri in sorted(files):
        p = urlparse(uri).path or uri
        try:
            st = os.stat(p)
        except OSError:
            # non-driver-visible storage (object store): a path-only
            # fingerprint would never change when the data does — the
            # exact staleness this key exists to prevent. No memo.
            return None
        h.update(f"{p}|{st.st_mtime_ns}|{st.st_size};".encode())
    return h.hexdigest()


def spread_scan(df: DataFrame) -> DataFrame:
    """Restore scan parallelism when the file LAYOUT defeats split
    sizing. A parquet row group is the minimum split unit: a table
    written as one (or few) giant row groups scans as one (or few)
    tasks no matter how small ``spark.sql.files.maxPartitionBytes``
    is, and every narrow map pipelined into that scan — shingling,
    gram hashing, banding — serializes with it (guide §2.5: "one huge
    unsplittable file … repartition immediately after the read").
    The sf0.1 testdata is exactly this shape (one file, ONE row group
    per table), which silently ran the map side of every text/dedup
    operator on a single core.

    Fires ONLY when (a) the frame is a plain file scan over few files
    (≤ default parallelism — more files already parallelize at file
    granularity), (b) the files are driver-visible parquet, and
    (c) their total row-group count is under half the default
    parallelism. Cost when it fires: one round-robin shuffle of the
    projected input. At production scale (many files / many row
    groups) conditions (a)/(c) fail and this is a no-op by
    construction — the layout, not a size threshold, decides."""
    try:
        if df.isStreaming:
            return df
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — connect mode / odd plans
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if not files or len(files) > par:
        return df
    from urllib.parse import urlparse
    rgs = 0
    try:
        import pyarrow.parquet as pq
        for uri in files:
            p = urlparse(uri).path or uri
            if not p.endswith(".parquet") or not os.path.isfile(p):
                return df
            rgs += pq.ParquetFile(p).metadata.num_row_groups
            if rgs >= max(par // 2, 1):
                return df
    except Exception:  # noqa: BLE001 — non-parquet / unreadable
        return df
    return df.repartition(par)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 64,
                      bands: int = 16, shingle: int = 3,
                      jaccard_threshold: float = 0.5,
                      max_bucket: int = 1000,
                      collapse: bool | str = "auto") -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with
    exact shingle Jaccard. Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Byte-identical documents are collapsed to one representative
    BEFORE signatures (r8; the production "exact-dedup before
    near-dup" shape the jaccard complete-prefix op adopted in r5):
    verbatim duplicates share every band hash, so a dup group of g
    docs used to put g copies in each of its buckets — pair fan-out
    ×g², the measured ×6.4 wall at the 10x 90%-dup replica, and
    groups past ``max_bucket`` silently LOST their pairs to the cap.
    Collapsing makes the cap apply to DISTINCT contents, dup-group
    pairs are emitted exactly (jaccard 1.0) rather than re-verified
    g² times, and emitted pairs are identical-or-more-complete.

    ``collapse="auto"`` (default) probes the verbatim-dup ratio and
    skips the full-text canon aggregation on dup-light corpora, where
    the collapse buys nothing and its full-text shuffle was the
    measured +0.65 s at sf0.1 (r8 verdict #2). The probe (r9 verdict
    #4) is one EXACT pass: groupBy the 64-bit text hash, reduce to
    (total, distinct, max group size) — exact ratio, no sketch error
    band, and the max verbatim-group size, which the no-collapse path
    needs because its bucket cap counts RAW docs: a single
    >``max_bucket`` dup group in an otherwise dup-light corpus would
    silently lose its pairs without this guard. Invariant: collapse
    is skipped only when NO verbatim group exceeds ``max_bucket``
    (exact-counted), so both paths emit the same pairs. Probe cost:
    one (hash, count) pair per distinct text through the shuffle
    (~16 B/doc) vs the bands×24 B/doc banding shuffle the operator
    runs regardless — ~4% overhead, paid once per memo key. Dup-heavy
    corpora keep the collapse — the production shape at 100 TB, where
    crawl corpora routinely carry 30-60% verbatim dups.

    The verdict is memoized per (plan semanticHash, input-file
    fingerprint, max_bucket); the fingerprint (path+mtime+size of the
    plan's input files) invalidates the memo when the files change
    under an identical plan. Plans with neither input files nor local
    data (e.g. JDBC) are never memoized — their data can change
    invisibly, and a stale dup-light verdict past ``max_bucket``
    would cost answers, not just speed. Pass True/False to pin
    either path."""
    if collapse == "auto":
        try:
            ph = df._jdf.queryExecution().analyzed().semanticHash()
        except Exception:  # noqa: BLE001 — plan not hashable
            ph = None
        fp = _input_fingerprint(df)
        # memoize ONLY plans whose data is pinned by the key: file
        # inputs via the fingerprint, in-memory frames via the plan
        # hash (local relations embed their rows in the plan). A
        # file-less non-local plan (JDBC) re-probes every call — the
        # probe is two narrow aggregates, staleness there is silent.
        key = None
        if ph is not None and (fp is not None or _data_pinned(df)):
            # max_bucket participates in the phase-2 verdict, so two
            # calls differing only in the cap must not share a verdict
            key = (ph, fp, max_bucket)
        with _COLLAPSE_LOCK:
            cached = _COLLAPSE_MEMO.get(key) if key is not None else None
        if cached is not None:
            collapse = cached
        else:
            # ONE exact probe: groupBy the 8-byte text hash, reduce to
            # three longs (total, distinct, max group size). Exact
            # ratio — no sketch error band to pad — and the max
            # verbatim-group size, which no sketch can see: a single
            # >max_bucket dup group in an otherwise dup-light corpus
            # (one 2000-copy page in 100k docs is a 2% ratio) would
            # lose ALL its pairs to the raw bucket cap on the
            # no-collapse path (r9 advice). Scale math: the probe
            # shuffles ≤ one (hash, count) pair per distinct text
            # after map-side combine — ~16 B/doc vs the ~bands×24 B/doc
            # banding shuffle this operator runs regardless, i.e. ~4%
            # overhead; a prior approx-then-exact two-phase design
            # cost a SECOND full text scan on exactly the dup-light
            # corpora the probe exists to speed up (measured +5 s at
            # sf0.1 vs +2 s for this single pass).
            g = (df.filter(F.col(text_col).isNotNull())
                 .groupBy(F.xxhash64(F.col(text_col)).alias("_h"))
                 .agg(F.count(F.lit(1)).alias("_c"))
                 .agg(F.sum("_c").alias("_n"),
                      F.count(F.lit(1)).alias("_nd"),
                      F.max("_c").alias("_mx")).first())
            en, ed, mx = g["_n"], g["_nd"], g["_mx"]
            collapse = bool(en) and ((en - ed) / en >= 0.05
                                     or (mx or 0) > max_bucket)
            if key is not None:
                with _COLLAPSE_LOCK:
                    if len(_COLLAPSE_MEMO) >= 64:
                        _COLLAPSE_MEMO.pop(next(iter(_COLLAPSE_MEMO)))
                    _COLLAPSE_MEMO[key] = collapse
    if not collapse:
        # dup-light: every doc is its own representative; the pair set
        # below (rep_pairs) is already the full answer
        canon = None
        reps = df.select(id_col, text_col)
    else:
        # persisted like sigs/with_sh below (this operator's documented
        # cache contract, released via session.release_cached): canon
        # feeds the signature pipeline, the shingle verify table and
        # the member expansion — un-persisted, its full-text reduce
        # side re-executes per consumer (measured 4× the operator wall)
        canon = (df.select(F.col(text_col).alias("_s"), F.col(id_col))
                 .groupBy("_s")
                 .agg(F.min(id_col).alias("_rid"),
                      F.collect_list(id_col).alias("_ids"))
                 .persist())
        reps = canon.select(F.col("_rid").alias(id_col),
                            F.col("_s").alias(text_col))
    # signature table (id, minhash, _sh) — persisted: the banding is
    # the minhash column's only consumer since the one-shuffle
    # topology (r7), but the persist is still load-bearing as a
    # PROJECTION BARRIER — without it CollapseProject inlines the
    # k-permutation signature expression into every per-band element
    # reference (~32× recompute; measured 1.4 → 4.8 s at sf0.1 when
    # removed, r9). r12: the shingle array rides in the SAME persist
    # (shingles_out) — the verify join used to re-shingle reps in its
    # own persisted subtree (a second cache + a second shingle pass
    # over the corpus); now it projects _sh out of this cache and the
    # operator has one persist and one shingle pass fewer.
    sigs = minhash_signatures(reps.select(id_col, text_col), text_col,
                              num_hashes, shingle, shingles_out="_sh") \
        .select(id_col, "minhash", "_sh")
    sigs = sigs.persist()
    banded = _band_table(sigs.select(id_col, "minhash"), id_col,
                         num_hashes, bands)
    # ONE shuffle for candidate generation: group each bucket's ids,
    # cap pathological buckets (constant/empty docs — the n² hazard)
    # by array size, and emit ordered pairs with array HOFs inside the
    # bucket row. The previous groupBy-count + join-back + self-join
    # topology shuffled the banded table three times for the same
    # candidate set.
    buckets = (banded.groupBy("band_id", "band_hash")
               .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
               .filter((F.size("_ids") >= 2)
                       & (F.size("_ids") <= max_bucket)))
    pairs_arr = F.flatten(F.transform(
        F.col("_ids"),
        lambda x, i: F.transform(
            F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    cand = (buckets.select(F.explode(pairs_arr).alias("_p"))
            .select(F.col("_p.id_a").alias("id_a"),
                    F.col("_p.id_b").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # exact-Jaccard verification only for candidates: shingles come
    # from the signature persist above (same pass, same cache), not
    # carried through the banding shuffle
    with_sh = sigs.select(id_col, "_sh")
    sh_a = with_sh.select(F.col(id_col).alias("id_a"),
                          F.col("_sh").alias("_sh_a"))
    sh_b = with_sh.select(F.col(id_col).alias("id_b"),
                          F.col("_sh").alias("_sh_b"))
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    rep_pairs = (pairs.withColumn("jaccard", inter / union)
                 .filter(F.col("jaccard") >= jaccard_threshold)
                 .select("id_a", "id_b", "jaccard"))
    if canon is None:
        return rep_pairs
    # expand dup groups: cross pairs inherit the representatives'
    # jaccard (members are byte-identical to their representative);
    # within-group pairs are exactly 1.0 ≥ any threshold
    members = canon.select(F.col("_rid").alias("_rep"),
                           F.explode("_ids").alias("_m"))
    cross = (rep_pairs
             .join(members.select(F.col("_rep").alias("id_a"),
                                  F.col("_m").alias("_ma")), "id_a")
             .join(members.select(F.col("_rep").alias("id_b"),
                                  F.col("_m").alias("_mb")), "id_b")
             .select(F.least("_ma", "_mb").alias("id_a"),
                     F.greatest("_ma", "_mb").alias("id_b"), "jaccard"))
    # within-group pairs: a within-row array fan-out over the CACHED
    # canon — map-only, no self-join shuffle (dup groups are the rows
    # the collapse already bounded). Identical EMPTY/short texts DO
    # pair at exactly 1.0: _word_shingles emits at least one
    # (possibly partial) shingle for any non-null text, so the
    # uncollapsed path and the oracle both give two identical such
    # docs Jaccard 1/1. Only NULL-text groups must not pair (null
    # shingle array → the oracle's inverted index has no rows for
    # them) — hence the isNotNull guard.
    sorted_ids = F.array_sort(F.col("_ids"))
    within_arr = F.flatten(F.transform(
        sorted_ids,
        lambda x, i: F.transform(
            F.slice(sorted_ids, i + 2, F.size(sorted_ids)),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    within = (canon
              .filter((F.size("_ids") >= 2) & F.col("_s").isNotNull())
              .select(F.explode(within_arr).alias("_p"))
              .select(F.col("_p.a").alias("id_a"),
                      F.col("_p.b").alias("id_b"),
                      F.lit(1.0).alias("jaccard")))
    return cross.unionByName(within)


def minhash_ingest_near_dups(batch: DataFrame, corpus: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             num_hashes: int = 64, bands: int = 16,
                             shingle: int = 3,
                             jaccard_threshold: float = 0.5,
                             max_bucket: int = 1000) -> DataFrame:
    """Near-duplicate matches of a NEW ingest batch against an
    EXISTING corpus — the LSH twin of exact incremental-ingest dedup
    (each crawl increment is checked for *near* copies of what the
    corpus already holds, not just byte-identical ones). Returns
    (batch_id, corpus_id, jaccard); anti-joining the batch on
    batch_id yields the documents safe to append.

    Scale shape: at 100 TB the corpus band table (id, band_id,
    band_hash — 24 bytes/band/doc) is a persisted bucketed index that
    is built ONCE and probed by every increment; the batch (small by
    definition) computes its own signatures and meets the index in a
    single equi-join on (band_id, band_hash). Hot corpus buckets
    (empty/boilerplate docs) are capped at ``max_bucket`` before the
    probe; candidate pairs are verified with exact shingle Jaccard.
    """
    cs = minhash_signatures(corpus.select(id_col, text_col), text_col,
                            num_hashes, shingle).select(id_col, "minhash")
    bs = minhash_signatures(batch.select(id_col, text_col), text_col,
                            num_hashes, shingle).select(id_col, "minhash")
    # persisted: the bucket-size cap and the probe join both consume
    # the corpus band table — without the persist the full corpus is
    # scanned and re-minhashed twice per ingest (minhash_lsh_pairs
    # persists its signature table for the same reason). In a real
    # deployment this frame is the on-disk bucketed index.
    cb = (_band_table(cs, id_col, num_hashes, bands)
          .withColumnRenamed(id_col, "corpus_id").persist())
    bb = (_band_table(bs, id_col, num_hashes, bands)
          .withColumnRenamed(id_col, "batch_id"))
    sizes = (cb.groupBy("band_id", "band_hash")
             .agg(F.count(F.lit(True)).alias("_n"))
             .filter(F.col("_n") <= max_bucket).drop("_n"))
    cb = cb.join(sizes, ["band_id", "band_hash"])
    cand = (bb.join(cb, ["band_id", "band_hash"])
            .select("batch_id", "corpus_id")
            .dropDuplicates(["batch_id", "corpus_id"]))
    bsh = batch.select(F.col(id_col).alias("batch_id"),
                       _word_shingles(F.col(text_col), shingle)
                       .alias("_sh_a"))
    csh = corpus.select(F.col(id_col).alias("corpus_id"),
                        _word_shingles(F.col(text_col), shingle)
                        .alias("_sh_b"))
    pairs = cand.join(bsh, "batch_id").join(csh, "corpus_id")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (pairs.withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("batch_id", "corpus_id", "jaccard"))


def simhash(df: DataFrame, text_col: str = "text", bits: int = 64,
            out_col: str = "simhash",
            token_hash: str = "xxhash64") -> DataFrame:
    """SimHash: per token hash, each output bit is the sign of the
    sum of ±1 votes across tokens. Pure expressions: one
    F.aggregate pass per bit over the token-hash array.

    ``token_hash``: "xxhash64" (default — fastest, JVM intrinsic) or
    "md5_60" (first 15 md5 hex chars as a 60-bit integer — md5 is
    bit-identical in every engine, so an external SQL oracle can
    recompute the signatures exactly; requires ``bits <= 60``)."""
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if token_hash == "xxhash64":
        th = F.transform(tokens, lambda t: F.xxhash64(t))
    elif token_hash == "md5_60":
        if bits > 60:
            raise ValueError("md5_60 provides 60 hash bits; bits <= 60")
        th = F.transform(tokens, lambda t: F.conv(
            F.substring(F.md5(t), 1, 15), 16, 10).cast("long"))
    else:
        raise ValueError(token_hash)
    df = df.withColumn("_th", th)

    def _bit_vote(b: int) -> Column:
        def merge(acc: Column, h: Column) -> Column:
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)
        return F.aggregate(F.col("_th"), F.lit(0), merge)

    bit_cols = []
    for b in range(bits):
        vote = _bit_vote(b)
        # shiftleft instead of a 1<<b literal: 1<<63 overflows a Java
        # long literal but wraps correctly in the JVM shift
        bit_cols.append(F.shiftleft(
            F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), b))
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return df.withColumn(out_col, sig).drop("_th")


def simhash_near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", bits: int = 64,
                           max_hamming: int = 3,
                           chunks: int = 4,
                           token_hash: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Pigeonhole
    banding: split the signature into ``chunks`` pieces; any pair
    within distance < chunks must agree on >= 1 chunk — bucket-join on
    chunk value, verify with bit_count(xor). (Requires
    max_hamming < chunks, the standard construction.)"""
    width = bits // chunks
    # persisted: the a/b sides of the bucket self-join both consume the
    # signatures — computing 64 bit-vote aggregates per doc twice is
    # the dominant cost otherwise
    sigs = simhash(df.select(id_col, text_col), text_col, bits,
                   token_hash=token_hash) \
        .select(id_col, "simhash").persist()
    chunk_arr = F.array(*[
        F.struct(F.lit(c).alias("chunk_id"),
                 F.shiftrightunsigned(F.col("simhash"), c * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk_val"))
        for c in range(chunks)
    ])
    exploded = (sigs.withColumn("_c", F.explode(chunk_arr))
                .select(id_col, "simhash",
                        F.col("_c.chunk_id").alias("chunk_id"),
                        F.col("_c.chunk_val").alias("chunk_val")))
    a = exploded.select(F.col(id_col).alias("id_a"),
                        F.col("simhash").alias("_sig_a"),
                        "chunk_id", "chunk_val")
    b = exploded.select(F.col(id_col).alias("id_b"),
                        F.col("simhash").alias("_sig_b"),
                        "chunk_id", "chunk_val")
    hamming = F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b")))
    return (a.join(b, ["chunk_id", "chunk_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.9,
                             method: str = "lsh",
                             dim: int = 64, n_planes: int = 4,
                             n_tables: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b) with
    cosine(a, b) >= threshold, id_a < id_b.

    ``method="exact"`` — brute-force all-pairs (O(n²) dot products,
    only for small n / verification).
    ``method="lsh"`` — hyperplane-LSH candidate buckets + exact cosine
    verification: the only shuffle is the bucket equi-join; recall is
    the standard multi-table LSH bound, precision is exact. The
    100 TB shape (candidates ≪ all-pairs).

    Recall vs threshold at the default 4 planes × 8 tables (per-pair
    find probability 1-(1-(1-θ/π)⁴)⁸ for cosine cos θ):

    ========= =========== ================
    cosine    one table   found by ≥1 of 8
    ========= =========== ================
    0.45      0.177       0.790
    0.60      0.247       0.897
    0.80      0.400       0.983
    0.90      0.538       0.9979
    0.95      0.653       0.99979
    ========= =========== ================

    i.e. the DEFAULT threshold 0.9 operates where misses are ~2×10⁻³
    per pair (pinned exactly-50/50 by the dedup_embedding_lsh_planted
    gate fixture); the testdata gate entries at threshold 0.45 sit in
    the worst band, which is why their honest contract is a 0.75
    recall floor rather than exact recall — and why exhaustive-recall
    parameterizations at 0.45 (e.g. 3×24) were REJECTED: they collide
    ~96% of random pairs somewhere, i.e. near-quadratic candidates
    (r6 10x stress)."""
    from octosql_spark.datapipe.similarity import (
        _dot, _hyperplane_signature)
    e = df.select(F.col(id_col).alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    # zero-norm guard: a zero vector has no direction (cosine
    # undefined) — filter explicitly rather than letting x/0 = NULL
    # silently NULL out the bucket and the cosine (the implicit-drop
    # behavior this makes a stated, tested contract)
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    e = (e.withColumn("_n", norm).filter(F.col("_n") > 0)
         .withColumn("_nv", F.transform("_v", lambda x: x / F.col("_n")))
         .drop("_v", "_n"))
    if method == "exact":
        a = e.select(F.col("_id").alias("id_a"), F.col("_nv").alias("_va"))
        b = e.select(F.col("_id").alias("id_b"), F.col("_nv").alias("_vb"))
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        cos = _dot(F.col("_va"), F.col("_vb"))
    elif method == "lsh":
        def _buckets(vec):
            return F.array(*[
                F.struct(F.lit(t).alias("table"),
                         _hyperplane_signature(vec, dim, n_planes,
                                               42 + 1000 * t).alias("bucket"))
                for t in range(n_tables)])
        # skinny candidates: the bucket self-join and the cross-table
        # dropDuplicates handle (id, id) longs only — carrying both
        # vectors through the pair shuffle multiplies its bytes by
        # the embedding width (the semantic_dedup 10x stress measured
        # 444 s -> 36 s for this exact restructure). Vectors re-join
        # AFTER dedup from the normalized frame.
        e = e.persist()
        x = (e.withColumn("_b", F.explode(_buckets(F.col("_nv"))))
             .select("_id", "_b.table", "_b.bucket"))
        a = x.select(F.col("_id").alias("id_a"), "table", "bucket")
        b = x.select(F.col("_id").alias("id_b"), "table", "bucket")
        ids = (a.join(b, ["table", "bucket"])
               .filter(F.col("id_a") < F.col("id_b"))
               .select("id_a", "id_b")
               .dropDuplicates(["id_a", "id_b"]))
        cand = (ids
                .join(e.select(F.col("_id").alias("id_a"),
                               F.col("_nv").alias("_va")), "id_a")
                .join(e.select(F.col("_id").alias("id_b"),
                               F.col("_nv").alias("_vb")), "id_b"))
        cos = _dot(F.col("_va"), F.col("_vb"))
    else:
        raise ValueError(method)
    return (cand.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def embedding_ingest_near_dups(batch: DataFrame, corpus: DataFrame,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               threshold: float = 0.9,
                               dim: int = 64, n_planes: int = 4,
                               n_tables: int = 8,
                               max_bucket: int = 10_000) -> DataFrame:
    """Embedding-cosine matches of a NEW ingest batch against an
    EXISTING corpus — the vector twin of ``minhash_ingest_near_dups``
    (each crawl/embedding increment is checked for semantic copies of
    what the corpus already holds before it is appended). Returns
    (batch_id, corpus_id, cosine); anti-joining the batch on batch_id
    yields the vectors safe to ingest.

    Scale shape: the corpus hyperplane-LSH bucket table (id, table,
    bucket — 12 bytes/table/vector) is the persisted index built ONCE
    and probed by every increment; the (small) batch computes its own
    signatures and meets the index in a single equi-join on
    (table, bucket). Hot corpus buckets (zero-information directions)
    are capped at ``max_bucket`` before the probe; candidates dedup as
    skinny id pairs across tables and only then re-join their vectors
    (broadcast-sized sides) for exact-cosine verification — precision
    is exact, recall is the standard multi-table LSH bound."""
    from octosql_spark.datapipe.similarity import (
        _dot, _hyperplane_signature)

    def _normed(df):
        # zero-norm guard: skip direction-less zero vectors explicitly
        # (same contract as curate.semantic_decontaminate) instead of
        # relying on x/0 → NULL silently dropping them downstream
        v = F.col(vec_col).cast("array<double>")
        return (df.select(F.col(id_col).alias("_id"), v.alias("_rawv"),
                          F.sqrt(_dot(v, v)).alias("_n"))
                .filter(F.col("_n") > 0)
                .select("_id",
                        F.transform("_rawv",
                                    lambda x: x / F.col("_n")).alias("_nv")))

    def _buckets(vec):
        return F.array(*[
            F.struct(F.lit(t).alias("table"),
                     _hyperplane_signature(vec, dim, n_planes,
                                           42 + 1000 * t).alias("bucket"))
            for t in range(n_tables)])

    cn = _normed(corpus).persist()
    bn = _normed(batch).persist()
    # the persisted index: in a real deployment this frame is the
    # stored bucket table, rebuilt only when the corpus grows
    cx = (cn.withColumn("_b", F.explode(_buckets(F.col("_nv"))))
          .select(F.col("_id").alias("corpus_id"), "_b.table", "_b.bucket")
          .persist())
    sizes = (cx.groupBy("table", "bucket")
             .agg(F.count(F.lit(True)).alias("_n"))
             .filter(F.col("_n") <= max_bucket).drop("_n"))
    cx = cx.join(sizes, ["table", "bucket"])
    bx = (bn.withColumn("_b", F.explode(_buckets(F.col("_nv"))))
          .select(F.col("_id").alias("batch_id"), "_b.table", "_b.bucket"))
    ids = (bx.join(cx, ["table", "bucket"])
           .select("batch_id", "corpus_id")
           .dropDuplicates(["batch_id", "corpus_id"]))
    cand = (ids
            .join(bn.select(F.col("_id").alias("batch_id"),
                            F.col("_nv").alias("_vb")), "batch_id")
            .join(cn.select(F.col("_id").alias("corpus_id"),
                            F.col("_nv").alias("_vc")), "corpus_id"))
    return (cand.withColumn("cosine", _dot(F.col("_vb"), F.col("_vc")))
            .filter(F.col("cosine") >= threshold)
            .select("batch_id", "corpus_id", "cosine"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        prefix_k: int = 5,
                        max_bucket: int = 1000,
                        complete: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity with prefix filtering.

    Candidate generation is the classic prefix filter: each document
    indexes only its globally-rarest grams; two documents with
    Jaccard ≥ t overwhelmingly share a rare gram (a common-gram
    inverted index on a shared-vocabulary corpus degenerates to ~all
    pairs — measured 117 s vs 8 s on 5k word-soup docs).

    Two candidate regimes:
    - ``complete=False`` (default): each doc indexes its ``prefix_k``
      rarest grams and ``max_bucket`` caps any residual hot bucket —
      fast, near-perfect recall in practice, no guarantee.
    - ``complete=True``: the AllPairs/SSJoin theorem prefix
      (Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06) — with every
      doc's grams sorted by ONE global order, indexing its first
      ``|s| − ceil(t·|s|) + 1`` grams guarantees every pair with
      Jaccard ≥ t shares an indexed gram (J ≥ t ⇒ overlap ≥
      ceil(t·|s|) on each side, and any that-large subset must hit
      the prefix). Exact join = exact result, NO approximation:
      recall is a theorem, not a tuning knob, so the all-pairs oracle
      must match row-for-row. Costlier than ``prefix_k`` (the prefix
      is Θ((1−t)·|s|)) but still far below the quadratic scan, and
      the rare-first order keeps the inverted buckets small.

    Complete mode first COLLAPSES identical shingle sets
    (sorted-array canonical form) to one representative and expands
    the dup groups back after the pair phase: on a dup-heavy corpus
    every inverted bucket would otherwise grow by the duplication
    factor g and candidate pairs by g² — the 10x replica stress
    (90% verbatim dups) ran minutes without the collapse and seconds
    with it, while the emitted pair set is identical (dup-group
    members pair at exactly 1.0)."""
    from pyspark.sql.window import Window
    sh = _word_shingles(F.col(text_col), n)
    raw = df.select(id_col, sh.alias("_sh"))
    canon = None
    if complete:
        canon = (raw.groupBy(F.array_sort("_sh").alias("_sh"))
                 .agg(F.min(id_col).alias(id_col),
                      F.collect_list(id_col).alias("_ids"))
                 .persist())
        with_sh = canon.select(id_col, "_sh").persist()
    else:
        # persisted: the inverted index and both verification sides
        # reuse the shingle arrays (3 branches — without the persist
        # each one recomputes every shingle from the raw text)
        with_sh = raw.persist()
    inv = with_sh.select(id_col, F.explode("_sh").alias("gram"))
    counts = inv.groupBy("gram").agg(F.count(F.lit(True)).alias("_gc"))
    ranked_all = (inv.join(counts, "gram")
                  .withColumn("_rk", F.row_number().over(
                      Window.partitionBy(id_col).orderBy("_gc", "gram"))))
    if complete:
        sizes = with_sh.select(F.col(id_col),
                               F.size("_sh").alias("_sz"))
        plen = (F.col("_sz")
                - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
        ranked = (ranked_all.join(sizes, id_col)
                  .filter(F.col("_rk") <= plen)
                  .select(id_col, "gram"))
    else:
        ranked = (ranked_all
                  .filter((F.col("_rk") <= prefix_k)
                          & (F.col("_gc") <= max_bucket))
                  .select(id_col, "gram"))
    a = ranked.select(F.col(id_col).alias("id_a"), "gram")
    b = ranked.select(F.col(id_col).alias("id_b"), "gram")
    cand = (a.join(b, "gram").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]))
    sh_a = with_sh.select(F.col(id_col).alias("id_a"),
                          F.col("_sh").alias("_sh_a"))
    sh_b = with_sh.select(F.col(id_col).alias("id_b"),
                          F.col("_sh").alias("_sh_b"))
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    result = (pairs.withColumn("jaccard", inter / union)
              .filter(F.col("jaccard") >= threshold)
              .select("id_a", "id_b", "jaccard"))
    if not complete:
        return result
    # expand representative pairs back to member pairs
    members = canon.select(F.col(id_col).alias("_rep"),
                           F.explode("_ids").alias("_m"))
    cross = (result
             .join(members.select(F.col("_rep").alias("id_a"),
                                  F.col("_m").alias("_ma")), "id_a")
             .join(members.select(F.col("_rep").alias("id_b"),
                                  F.col("_m").alias("_mb")), "id_b")
             .select(F.least("_ma", "_mb").alias("id_a"),
                     F.greatest("_ma", "_mb").alias("id_b"),
                     "jaccard"))
    if threshold > 1.0:
        return cross
    ids = F.col("_ids")
    within_arr = F.filter(
        F.flatten(F.transform(
            ids, lambda x: F.transform(
                ids, lambda y: F.struct(x.alias("a"), y.alias("b"))))),
        lambda p: p["a"] < p["b"])
    within = (canon.filter(F.size("_ids") >= 2)
              .select(F.explode(within_arr).alias("p"))
              .select(F.col("p.a").alias("id_a"),
                      F.col("p.b").alias("id_b"),
                      F.lit(1.0).alias("jaccard")))
    return cross.unionByName(within)


def _deletion_variants(s: Column, max_dist: int) -> Column:
    """All strings obtainable from ``s`` by deleting ≤ ``max_dist``
    characters (the SymSpell deletion neighborhood), as a distinct
    array. Pure Catalyst HOFs — ``sequence`` index generation +
    ``substring`` splicing, no Python. Supported for max_dist ≤ 2
    (the neighborhood is C(L,0)+C(L,1)+C(L,2) variants; callers only
    apply it to short strings, so the array stays tiny)."""
    parts = [F.array(F.col("_s"))]
    if max_dist >= 1:
        parts.append(F.when(F.length("_s") >= 1, F.expr(
            "transform(sequence(1, length(_s)), i -> "
            "concat(substring(_s, 1, i-1), substring(_s, i+1, length(_s))))"
        )).otherwise(F.array().cast("array<string>")))
    if max_dist >= 2:
        parts.append(F.when(F.length("_s") >= 2, F.expr(
            "flatten(transform(sequence(1, length(_s)-1), i -> "
            "transform(sequence(i+1, length(_s)), j -> "
            "concat(substring(_s,1,i-1), substring(_s,i+1,j-i-1), "
            "substring(_s,j+1,length(_s))))))"
        )).otherwise(F.array().cast("array<string>")))
    return F.array_distinct(F.concat(*parts))


def edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", max_dist: int = 2,
                        q: int = 3, cache: bool = False) -> DataFrame:
    """Exact edit-distance similarity self-join: every pair of rows
    whose ``text_col`` strings are within Levenshtein distance
    ``max_dist``, verified with Spark's built-in ``levenshtein``
    (JVM, early-exit threshold form). Output ``(id_a, id_b, dist)``
    with ``id_a < id_b``.

    EXACT result — candidate generation is lossless, so the quadratic
    all-pairs oracle must match row-for-row. Two complete candidate
    regimes split by string length (Ed-Join, Xiao et al. VLDB'08 +
    the SymSpell deletion-neighborhood theorem):

    - **long strings** (length ≥ q·(max_dist+1), i.e. ≥ q·d+1
      q-grams): positional q-gram **prefix filter** — each edit
      destroys ≤ q grams, so two strings within distance d share
      ≥ max(g_a, g_b) − q·d grams; under ONE global rare-gram-first
      order, each string need only index its first q·d+1 grams and
      any qualifying pair is guaranteed to collide on an indexed
      gram (the AllPairs prefix theorem with α = max − q·d).
    - **short strings** (too few grams for the bound to bite, plus a
      d-wide band above the boundary so cross-length pairs are
      caught): **deletion neighborhood** — if ed(s,t) ≤ d then the
      aligned common subsequence is reachable from BOTH by ≤ d
      deletions, so joining each string's ≤d-deletion variant set on
      variant value is complete. Neighborhoods are generated with
      Catalyst HOFs only; max_dist ≤ 2 (C(L,2) variants on ≤
      (q(d+1)+d−1)-char strings — bounded and tiny).

    Identical strings are collapsed to one representative before
    either path (dup-heavy corpora would otherwise square every
    bucket) and expanded back afterwards, dup-group members pairing
    at distance 0.

    Scale shape (100 TB story): gram/variant generation is narrow
    map work pipelined with the scan; candidate generation is an
    equi-join on gram/variant value — the prefix order puts the
    RAREST grams first so inverted buckets stay small, and a length
    filter (|len_a − len_b| ≤ d) prunes before verification;
    verification is per-candidate-pair ``levenshtein(a, b, d)``
    (early-exit banded DP in the JVM). No all-pairs stage anywhere.

    ``cache=False`` (default) keeps the operator leak-free for
    library callers: canon is consumed five times but every
    consumer's aggregate subtree canonicalizes to the same Exchange,
    so exchange reuse runs the scan+map side ONCE and only the slim
    reduce side re-executes per consumer (a persist here leaked
    executor storage until session teardown, r7 verdict). Measured
    (r9): for a SINGLE action the default is the fast path too —
    at the 10x dup-heavy replica, count() is 2.25 s default vs
    3.1 s cached (the persist write costs more than the reduce-side
    re-execution). ``cache=True`` persists canon for callers that
    run SEVERAL actions over the result (each action re-pays all
    consumers otherwise); release it with
    ``octosql_spark.session.release_cached`` between units of work,
    the same contract as ``minhash_lsh_pairs``'s documented caches.
    """
    from pyspark.sql.window import Window
    if not 0 <= max_dist <= 2:
        raise ValueError("edit_distance_pairs supports max_dist in "
                         "[0, 2] (deletion-neighborhood bound)")
    if q < 2:
        raise ValueError("q must be >= 2")
    d = max_dist
    lmin = q * (d + 1)          # enough grams for the prefix theorem
    short_max = lmin - 1 + d    # band so cross-boundary pairs stay short-path
    canon = (df.select(F.col(text_col).alias("_s"), F.col(id_col))
             .groupBy("_s")
             .agg(F.min(id_col).alias("_rid"),
                  F.collect_list(id_col).alias("_ids")))
    if cache:
        canon = canon.persist()
    reps = canon.select("_rid", "_s", F.length("_s").alias("_len"))
    # -- long path: rare-first q-gram prefix --------------------------
    longs = reps.filter(F.col("_len") >= lmin)
    grams = (longs.select(
        "_rid", "_len",
        F.explode(F.expr(
            f"transform(sequence(1, length(_s) - {q - 1}), "
            f"i -> substring(_s, i, {q}))")).alias("_g")))
    gc = grams.groupBy("_g").agg(F.count(F.lit(True)).alias("_gc"))
    ranked = (grams.join(gc, "_g")
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy("_rid").orderBy("_gc", "_g"))))
    prefix = (ranked.filter(F.col("_rk") <= q * d + 1)
              .select("_rid", "_len", "_g"))
    cand_long = (prefix.alias("a").join(
        prefix.alias("b"),
        (F.col("a._g") == F.col("b._g"))
        & (F.col("a._rid") < F.col("b._rid"))
        & (F.abs(F.col("a._len") - F.col("b._len")) <= d))
        .select(F.col("a._rid").alias("id_a"),
                F.col("b._rid").alias("id_b")))
    # -- short path: deletion neighborhood ----------------------------
    shorts = reps.filter(F.col("_len") <= short_max)
    var = shorts.select(
        "_rid", "_len",
        F.explode(_deletion_variants(F.col("_s"), d)).alias("_v"))
    cand_short = (var.alias("a").join(
        var.alias("b"),
        (F.col("a._v") == F.col("b._v"))
        & (F.col("a._rid") < F.col("b._rid"))
        & (F.abs(F.col("a._len") - F.col("b._len")) <= d))
        .select(F.col("a._rid").alias("id_a"),
                F.col("b._rid").alias("id_b")))
    cand = (cand_long.unionByName(cand_short)
            .dropDuplicates(["id_a", "id_b"]))
    # -- exact verification -------------------------------------------
    sa = canon.select(F.col("_rid").alias("id_a"), F.col("_s").alias("_sa"))
    sb = canon.select(F.col("_rid").alias("id_b"), F.col("_s").alias("_sb"))
    rep_pairs = (cand.join(sa, "id_a").join(sb, "id_b")
                 .withColumn("dist",
                             F.levenshtein("_sa", "_sb", d)
                             if d > 0 else F.levenshtein("_sa", "_sb"))
                 .filter((F.col("dist") >= 0) & (F.col("dist") <= d))
                 .select("id_a", "id_b", "dist"))
    # -- expand dup groups back to member pairs -----------------------
    members = canon.select(F.col("_rid").alias("_rep"),
                           F.explode("_ids").alias("_m"))
    cross = (rep_pairs
             .join(members.select(F.col("_rep").alias("id_a"),
                                  F.col("_m").alias("_ma")), "id_a")
             .join(members.select(F.col("_rep").alias("id_b"),
                                  F.col("_m").alias("_mb")), "id_b")
             .select(F.least("_ma", "_mb").alias("id_a"),
                     F.greatest("_ma", "_mb").alias("id_b"), "dist"))
    # within-group pairs via a members self-join on the representative:
    # its aggregate subtree canonicalizes with `members` above, so the
    # exchange is shared (one fewer canon re-execution than the r7
    # within-row array fan-out, and no |group|² array materialization)
    within = (members.select(F.col("_rep"), F.col("_m").alias("id_a"))
              .join(members.select(F.col("_rep"),
                                   F.col("_m").alias("id_b")), "_rep")
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", F.lit(0).alias("dist")))
    return cross.unionByName(within)


def _dup_span_frames(df: DataFrame, id_col: str, text_col: str,
                     min_len: int, min_dup_docs: int,
                     unit: str = "token"):
    """Shared span-detection core for ``duplicated_spans`` /
    ``remove_duplicated_spans``: returns ``(toks, spans)`` where
    ``toks`` is (id, n_tokens, _ws units array) and ``spans`` is the
    merged maximal duplicated spans (id, s, e) in 1-based inclusive
    unit positions. ``unit="token"`` splits on whitespace;
    ``unit="char"`` makes every character a unit (Lee et al. 2021's
    deployed ExactSubstr policy is CHARACTER-level length-50 matches
    — token grams cannot see a duplicate that crosses token
    boundaries with different surrounding whitespace). Same topology
    either way; only the split and the join separator differ."""
    from pyspark.sql.window import Window
    k = min_len
    if unit == "char":
        # split between every pair of characters: lookahead at
        # neither start nor ABSOLUTE end (\z, not $ — $ also matches
        # before a final newline and would glue "x\n" into one unit;
        # and F.split keeps trailing empties, so an end split point
        # would add a phantom ""). The empty-string guard keeps
        # n_tokens exact (Java's split of "" yields [""], not []).
        words = F.when(F.length(F.col(text_col)) == 0,
                       F.array().cast("array<string>")) \
                 .otherwise(F.split(F.col(text_col), r"(?!^|\z)"))
    elif unit == "token":
        words = F.split(F.trim(F.col(text_col)), r"\s+")
    else:
        raise ValueError(f"unit must be 'token' or 'char', got {unit!r}")
    base = df.select(id_col, words.alias("_ws"))
    toks = base.select(id_col, F.size("_ws").alias("n_tokens"), "_ws")
    grams = (toks.filter(F.col("n_tokens") >= k)
             .select(id_col, F.posexplode(
                 F.transform(
                     F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
                     lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_ws", i, k)))
                 )).alias("_p0", "h"))
             .select(id_col, (F.col("_p0") + 1).alias("pos"), "h"))
    dup = (grams.groupBy("h")
           .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
           .filter(F.col("_nd") >= min_dup_docs)
           .select("h"))
    hits = grams.join(dup, "h").select(id_col, "pos")
    by_pos = Window.partitionBy(id_col).orderBy("pos")
    isl = (hits.withColumn("_prev", F.lag("pos").over(by_pos))
           .withColumn("_new", F.when(
               F.col("_prev").isNull() | (F.col("pos") > F.col("_prev") + k),
               1).otherwise(0))
           .withColumn("_isl", F.sum("_new").over(
               by_pos.rowsBetween(Window.unboundedPreceding, 0))))
    spans = (isl.groupBy(id_col, "_isl")
             .agg(F.min("pos").alias("s"),
                  (F.max("pos") + (k - 1)).alias("e"))
             .select(id_col, "s", "e"))
    return toks, spans


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_len: int = 8,
                     min_dup_docs: int = 2,
                     unit: str = "token") -> DataFrame:
    """Substring-level exact duplicate detection (the train-set dedup
    of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better" — their ExactSubstr pass, re-expressed for a
    distributed engine): find every maximal token span of length
    >= ``min_len`` whose content occurs in >= ``min_dup_docs``
    distinct documents, and report the merged spans per document.

    Suffix arrays (the paper's tool) don't distribute; the standard
    cluster-scale equivalent is gram fingerprints: every length-
    ``min_len`` token window is hashed, a window is *duplicated* when
    its content appears in enough distinct docs, and runs of
    overlapping duplicated windows merge into maximal spans — exactly
    the spans a suffix array reports, at the chosen granularity.

    Returns one row per input document: ``n_tokens``,
    ``n_dup_spans``, ``dup_tokens``, ``dup_token_frac`` and
    ``spans`` ("start-end;..." 1-based inclusive token positions —
    a scalar string so results are engine-comparable).

    Scale shape (100 TB story): gram hashing is narrow map work
    pipelined with the scan (xxhash64 of each window — 8 bytes
    shuffled per token, not the 50-byte gram text); the dup-gram
    count is one map-side-combined shuffle keyed by hash (uniform by
    construction); the join back to positions is a plain equi-join
    AQE can re-plan; span merging is a per-document window — parallel
    across documents, never global. No all-pairs stage anywhere.

    ``unit="char"`` switches to character-level grams (the paper's
    deployed policy is length-50 CHARACTER matches): positions,
    ``n_tokens`` and spans are then in characters, and duplicates
    that cross token boundaries are caught — see ``_dup_span_frames``.
    """
    toks, spans = _dup_span_frames(df, id_col, text_col, min_len,
                                   min_dup_docs, unit)
    per_doc = (spans.groupBy(id_col).agg(
        F.count(F.lit(True)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("s", "e"))),
            lambda x: F.concat_ws("-", x["s"], x["e"])), ";").alias("spans")))
    out = (toks.select(id_col, "n_tokens")
           .join(per_doc, id_col, "left")
           .select(id_col, "n_tokens",
                   F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
                   F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
                   F.round(F.coalesce("dup_tokens", F.lit(0)) /
                           F.when(F.col("n_tokens") > 0, F.col("n_tokens")),
                           6).alias("dup_token_frac"),
                   F.coalesce("spans", F.lit("")).alias("spans")))
    return out


def remove_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", min_len: int = 8,
                            min_dup_docs: int = 2,
                            unit: str = "token") -> DataFrame:
    """Apply ExactSubstr dedup (Lee et al. 2021 §4.1, the reference's
    policy of dropping the duplicated text rather than the document):
    delete every token covered by a duplicated span (as detected by
    ``duplicated_spans``) and reassemble the remaining tokens in
    order. Returns one row per input document: ``n_tokens``,
    ``kept_tokens`` and ``text_clean``.

    Scale shape: identical to ``duplicated_spans`` (gram-hash count
    shuffle + equi-join + per-document window) plus one per-doc
    span-list aggregation; the rewrite itself is a within-row
    higher-order ``filter`` over the words array against the (few)
    merged spans — no extra corpus shuffle, no Python in the row path.

    ``unit="char"`` deletes characters covered by >= ``min_len``-CHAR
    duplicated runs (the paper's deployed length-50 policy) and
    reassembles without separators.
    """
    toks, spans = _dup_span_frames(df, id_col, text_col, min_len,
                                   min_dup_docs, unit)
    span_arr = (spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("s").cast("long").alias("s"),
                     F.col("e").cast("long").alias("e")))).alias("_spans")))
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    joined = (toks.join(span_arr, id_col, "left")
              .withColumn("_spans", F.coalesce("_spans", empty)))
    kept = F.filter(
        F.col("_ws"),
        lambda w, i: ~F.exists(
            F.col("_spans"),
            lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"])))
    return joined.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        F.concat_ws("" if unit == "char" else " ", kept)
        .alias("text_clean"))


def hybrid_dedup_evidence(docs: DataFrame, embeddings: DataFrame,
                          cos_threshold: float = 0.3,
                          jaccard_threshold: float = 0.5,
                          doc_id: str = "doc_id", text_col: str = "text",
                          vec_id: str = "vec_id",
                          vec_col: str = "embedding",
                          shingle: int = 3) -> DataFrame:
    """Hybrid near-dup evidence: semantic candidates (embedding cosine
    >= threshold) annotated with their exact lexical n-gram Jaccard
    and a ``lexical_match`` agreement flag — the two-signal review
    table a curation pipeline uses to calibrate thresholds (semantic
    recall vs lexical precision) before committing to a delete list.

    Scale shape: candidate generation is the embedding path (exact
    here; swap the LSH-bucketed variant at scale), and the lexical
    evidence joins shingle arrays for the CANDIDATE ids only — the
    corpus text is never carried through the candidate join. Returns
    (id_a, id_b, jaccard, lexical_match) with id_a < id_b.
    """
    cand = embedding_near_dup_pairs(
        embeddings, id_col=vec_id, vec_col=vec_col,
        threshold=cos_threshold, method="exact").select("id_a", "id_b")
    sh = docs.select(F.col(doc_id).alias("_id"),
                     _word_shingles(F.col(text_col), shingle).alias("_sh"))
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = F.when(union > 0, inter / union)
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.round(jac, 6).alias("jaccard"),
                    F.coalesce(jac >= F.lit(jaccard_threshold),
                               F.lit(False)).alias("lexical_match")))


def remove_duplicated_lines(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            min_dup_docs: int = 2,
                            sep: str = "\n") -> DataFrame:
    """Line-level boilerplate removal — CCNet's paragraph dedup
    (Wenzek et al. 2020 §3.1) and the standard first pass over crawl
    text: split each document on ``sep``, drop every line whose
    content recurs in >= ``min_dup_docs`` DISTINCT documents (nav
    bars, cookie banners, footers), and reassemble the survivors in
    order. Blank/whitespace-only lines never participate in dup
    counting and are always kept (they are document structure, and
    counting them would delete every newline in the corpus).

    Returns one row per input document: (id_col, text_col cleaned,
    ``n_lines``, ``n_removed``); a document whose every content line
    was boilerplate comes back with its blank lines only.

    Scale shape: split+posexplode is narrow; the dup-line count is
    ONE map-side-combined shuffle keyed by the 8-byte line hash (the
    same xxhash64-fingerprint contract as ``exact_dedup`` — the
    engine-side key is the hash, the DuckDB oracle groups by the
    string itself, and the gate proves they agree); the removal is an
    anti-join on that hash; reassembly is one per-document
    aggregation. Nothing shuffles full text except the final
    per-document line collect, which is the output itself."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1))
        .alias("_pos", "_line"))
    dup = (lines
           .filter(F.trim("_line") != "")
           .groupBy(F.xxhash64("_line").alias("_h"))
           .agg(F.count_distinct(id_col).alias("_d"))
           .filter(F.col("_d") >= min_dup_docs)
           .select("_h"))
    # one left join to flag dup lines + ONE per-doc aggregation doing
    # reassembly and both counts together (collect_list skips the NULL
    # structs of removed lines; an all-removed doc concat_ws's an
    # empty array to "") — vs the naive anti-join + two groupBys +
    # join-back, which shuffled the lines three times
    flagged = lines.join(dup.withColumn("_dup", F.lit(True)),
                         F.xxhash64(F.col("_line")) == F.col("_h"),
                         "left")
    return (flagged.groupBy(id_col)
            .agg(F.concat_ws(sep, F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("_dup").isNull(),
                                F.struct("_pos", "_line")))),
                     lambda s: s["_line"])).alias(text_col),
                 F.count(F.lit(1)).alias("n_lines"),
                 F.count("_dup").alias("n_removed")))
