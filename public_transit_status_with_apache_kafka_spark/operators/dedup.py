"""Deduplication operators for large-scale text corpora (SURVEY.md
section 2.10 E1/E2): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
  - exact dedup is a hash-groupBy on a 128-bit content fingerprint — the
    shuffle key is the 16-byte hash, never the document text.
  - MinHash signatures are computed in ONE pass: explode distinct
    shingles, then n_hashes min() aggregates in a single groupBy (partial
    aggregation collapses per-partition before the shuffle).
  - LSH banding turns near-dup search into an equi-join on (band, hash) —
    no cross join ever materializes; band buckets are the only fan-out.
  - all hashes come from functions.hashing.md5_long so DuckDB can verify
    every stage bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, fingerprint_hex


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """E1: group identical content by md5 fingerprint; keep the smallest id
    as the canonical representative."""
    return (
        df.groupBy(fingerprint_hex(text_col).alias("fingerprint"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def shingle_array(text_col: str, k: int = 3) -> F.Column:
    """Distinct word k-grams of a text column as an array (per row, no
    explode). Tokenization is a plain single-space split (lower-cased) so
    the DuckDB oracle can reproduce it exactly."""
    tokens = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(tokens)
    # NB: Spark's sequence(1, 0) DESCENDS ([1, 0]); docs shorter than k
    # tokens must yield an empty shingle set (matching DuckDB's empty
    # generate_series), so gate the sequence explicitly.
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Exploded (id, shingle) rows — the input shape for set-based ops
    (Jaccard intersection joins). For MinHash signatures prefer
    :func:`minhash_signatures_text`, which never explodes."""
    # the shingle explode + hashing is CPU-bound; small parquet inputs
    # arrive as a handful of splits, so spread rows across the cluster
    # first (at 100 TB the scan already yields enough splits and AQE
    # coalesces this shuffle away)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(parallelism, F.col(id_col))
    # array_distinct already dedups within a doc, so (id, shingle) is
    # unique here — no extra distinct() shuffle needed
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(text_col, k)).alias("shingle"),
    )


def minhash_signatures(
    shingled: DataFrame, n_hashes: int = 8
) -> DataFrame:
    """E2 stage 1: per-document MinHash signature as n_hashes columns
    (minhash_0..n). One explode + one groupBy; the universal hash family
    (functions.hashing.minhash_base/minhash_hash) evaluates ONE md5
    digest per shingle — projected before the groupBy so the whole
    family shares it — then n cheap (a*h+b) mod p transforms."""
    from ..functions.hashing import minhash_base, minhash_hash

    hashed = shingled.select("id", minhash_base("shingle").alias("h"))
    aggs = [
        F.min(minhash_hash(F.col("h"), i)).alias(f"minhash_{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_signatures_text(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, n_hashes: int = 8
) -> DataFrame:
    """E2 stage 1, shuffle-free: signatures straight from the text column
    via array expressions — shingle array -> base-hash array ->
    array_min per family member. No explode, no groupBy: at 100 TB this
    removes the (id, shingle) shuffle entirely (the dominant cost of the
    exploded form); each document is processed within its input split.

    Result is identical to word_shingles + minhash_signatures (documents
    with < k tokens are dropped in both forms)."""
    from ..functions.hashing import minhash_base, minhash_hash

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    harr = F.transform(shingle_array(text_col, k), lambda s: minhash_base(s))
    # explode(array(...)) is a deliberate Generate barrier: without it,
    # CollapseProject inlines the shingle+md5 array expression into each
    # of the n_hashes array_min expressions below (higher-order functions
    # are excluded from codegen subexpression elimination), recomputing
    # the digests n_hashes times.
    hashed = (
        df.repartition(parallelism)  # local-mode split balance; AQE-coalesced at scale
        .select(F.col(id_col).alias("id"), F.explode(F.array(harr)).alias("h"))
        .filter(F.size("h") > 0)
    )
    sigs = [
        F.array_min(F.transform(F.col("h"), lambda h: minhash_hash(h, i))).alias(
            f"minhash_{i}"
        )
        for i in range(n_hashes)
    ]
    return hashed.select("id", *sigs)


def _mulmod_mersenne61(a: int, y) -> "object":
    """Exact (a * y) mod 2^61-1 over a uint64 numpy vector, y < 2^56.

    uint64 alone can't hold the 2^117 product, so split both operands
    at 31 bits and reduce with 2^61 ≡ 1 (mod p): every intermediate
    stays < 2^63. This is what makes an Arrow/numpy MinHash kernel
    bit-identical to the JVM expression form (and the DuckDB HUGEINT
    oracle) — no float drift, no overflow."""
    import numpy as np

    P = np.uint64((1 << 61) - 1)
    M31 = np.uint64((1 << 31) - 1)
    x1 = np.uint64(a >> 31)          # < 2^30
    x0 = np.uint64(a & ((1 << 31) - 1))
    y1 = y >> np.uint64(31)          # < 2^25
    y0 = y & M31
    t1 = np.uint64(2) * x1 * y1      # x1*y1*2^62 ≡ 2*x1*y1, < 2^56
    mid = x1 * y0 + x0 * y1          # < 2^61 + 2^56
    mid1 = mid >> np.uint64(30)
    mid0 = mid & np.uint64((1 << 30) - 1)
    # mid*2^31 = mid1*2^61 + mid0*2^31 ≡ mid1 + mid0*2^31 (mod p)
    total = t1 + mid1 + (mid0 << np.uint64(31)) + x0 * y0  # < 2^63
    return total % P


def _md5_u56_batch(msgs: list[bytes]):
    """56-bit md5 family values for a list of byte strings — the
    vectorized single-block kernel (functions/md5_numpy) for messages
    under one MD5 block, per-message hashlib for the rare longer ones.
    Bit-identical to int(md5(m).hexdigest()[:14], 16) either way."""
    import hashlib

    import numpy as np

    from ..functions.md5_numpy import md5_u56_ragged

    n = len(msgs)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    lens = np.fromiter((len(m) for m in msgs), dtype=np.int64, count=n)
    small = lens <= 55
    if small.all():
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        return md5_u56_ragged(np.frombuffer(b"".join(msgs), dtype=np.uint8), starts, lens)
    idx = np.nonzero(small)[0]
    if idx.size:
        l = lens[idx]
        starts = np.zeros(idx.size, dtype=np.int64)
        np.cumsum(l[:-1], out=starts[1:])
        data = np.frombuffer(b"".join(msgs[i] for i in idx), dtype=np.uint8)
        out[idx] = md5_u56_ragged(data, starts, l)
    for i in np.nonzero(~small)[0]:
        out[i] = int(hashlib.md5(msgs[i]).hexdigest()[:14], 16)
    return out


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    n_hashes: int = 8,
    spread: bool = False,
) -> DataFrame:
    """E2 stage 1, Arrow escape hatch: the same signatures as
    :func:`minhash_signatures_text`, computed in ONE mapInPandas kernel
    (hashlib md5 + vectorized Mersenne-61 modmul + segmented min) per
    Arrow batch.

    Why it exists: the expression form evaluates md5/conv inside
    higher-order-function lambdas, which run interpreted (excluded from
    whole-stage codegen — see the HOF-CSE note there). The kernel keeps
    the same shuffle-free shape (documents never leave their input
    split; output is one row per doc) and is bit-identical — property
    tests pin kernel == expression form == DuckDB oracle, so either
    implementation can serve the registered query interchangeably."""
    from ..functions.hashing import MINHASH_P, minhash_params

    params = minhash_params(n_hashes)
    out_schema = ", ".join(
        [f"id {dict(df.dtypes)[id_col]}"]
        + [f"minhash_{i} long" for i in range(n_hashes)]
    )
    if spread:  # single-file local inputs: see winnowing_fingerprints_arrow
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids: list = []
            counts: list[int] = []
            msgs: list[bytes] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = text.lower().split(" ")
                if len(toks) < k:
                    continue
                sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                ids.append(doc_id)
                counts.append(len(sh))
                msgs.extend(s.encode("utf-8") for s in sh)
            if not ids:
                continue
            # whole batch's shingles through one vectorized MD5 pass
            h = _md5_u56_batch(msgs).astype(np.uint64)
            starts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(np.asarray(counts[:-1], dtype=np.int64), out=starts[1:])
            cols = {"id": ids}
            for i, (a, b) in enumerate(params):
                v = (_mulmod_mersenne61(a, h) + np.uint64(b)) % np.uint64(MINHASH_P)
                cols[f"minhash_{i}"] = np.minimum.reduceat(v, starts).astype(np.int64)
            yield pd.DataFrame(cols)

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def shingle_hashes_arrow(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, spread: bool = False
) -> DataFrame:
    """Exploded (id, sh) rows where sh = md5_long of each DISTINCT word
    k-gram — the Arrow twin of word_shingles + md5_long (hashlib in one
    mapInPandas pass instead of interpreted HOF md5 per gram).
    Bit-identical to the expression form (equality-tested); shuffle-free
    until the caller aggregates/joins."""

    out_schema = f"id {dict(df.dtypes)[id_col]}, sh long"
    if spread:  # single-file local inputs: see winnowing_fingerprints_arrow
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            msgs: list[bytes] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = text.lower().split(" ")
                if len(toks) < k:
                    continue
                for s in {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}:
                    ids.append(doc_id)
                    msgs.append(s.encode("utf-8"))
            if ids:
                yield pd.DataFrame({"id": ids, "sh": _md5_u56_batch(msgs)})

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def _banded(signatures: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, band_idx, band_hash) rows: the signature split into bands,
    each band's minhash row hashed to a 56-bit bucket key."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"minhash_{b * rows_per_band + r}").cast("string")
                 for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"),
                     md5_long(F.concat_ws("|", *parts)).alias("band_hash"))
        )
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("band")
    ).select("id", "band.band_idx", "band.band_hash")


def lsh_probe_pairs(
    batch_sigs: DataFrame,
    hist_sigs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental near-dup: candidate (batch_id, hist_id) pairs from
    probing a NEW ingest batch's bands against the HISTORICAL corpus's
    band buckets — the daily-ingest shape where batch-batch and
    hist-hist pairs are yesterday's problem. At 100 TB the history-side
    band stream is the persisted LSH index (write banded once, probe
    forever); the probe is one equi-join on the 56-bit bucket key with
    the small batch side broadcast/AQE-planned, so cost scales with the
    batch. History buckets over ``max_bucket`` are dropped via the same
    two-level-aggregation + broadcast-anti-join bound as
    :func:`lsh_candidate_pairs` (a degenerate boilerplate bucket would
    otherwise pair every batch doc with its whole membership)."""
    hist_b = _banded(hist_sigs, n_hashes, bands).localCheckpoint(eager=False)
    batch_b = _banded(batch_sigs, n_hashes, bands)
    return lsh_probe_banded(batch_b, hist_b, max_bucket)


def lsh_probe_banded(
    batch_banded: DataFrame, hist_banded: DataFrame, max_bucket: int = 1000
) -> DataFrame:
    """The probe half of :func:`lsh_probe_pairs` over ALREADY-banded
    frames (id, band_idx, band_hash) — the form a PERSISTED band index
    serves: write bands once, probe every ingest batch against the
    parquet index, then append the batch's bands to it (see
    e2_stream_incremental_neardup for the streaming maintenance
    loop)."""
    sizes = hist_banded.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("m")
    )
    hot = sizes.filter(F.col("m") > max_bucket)
    hist_ok = hist_banded.join(
        F.broadcast(hot.select("band_idx", "band_hash")),
        ["band_idx", "band_hash"],
        "left_anti",
    ).withColumnRenamed("id", "hist_id")
    return (
        batch_banded.join(hist_ok, ["band_idx", "band_hash"])
        .select(F.col("id").alias("batch_id"), "hist_id")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    oversize: str = "drop",
    observation=None,
    pin: str = "checkpoint",
) -> DataFrame:
    """E2 stage 2: band the signature, hash each band, group ids per
    (band_idx, band_hash) bucket, expand in-bucket pairs (id_a < id_b).

    Bucket-grouping instead of a banded self-join: the join formulation
    re-executes the whole upstream signature pipeline for its second
    side (two parquet scans + two explode/agg chains), while one
    groupBy + pair expansion computes signatures once and shuffles only
    (56-bit band key, id). Pair expansion is posexplode + a sliced
    second explode, so a hot bucket (boilerplate docs) emits its m^2/2
    pairs across m rows rather than one m^2-element array — no single
    task materializes the quadratic blowup.

    Hot-bucket bound (the 100 TB safety valve): a degenerate bucket —
    near-identical boilerplate, or every doc shorter than the shingle
    width — would otherwise land its whole membership in ONE
    collect_set row/task. Bucket sizes come from a groupBy on the
    checkpointed band stream (partial agg collapses the hot bucket
    map-side; a window count would buffer its whole partition in one
    task first) and membership is bounded BEFORE any collect_set
    materializes:

    - ``oversize="drop"`` (default, mirrored in the DuckDB oracle):
      buckets with more than ``max_bucket`` members emit no pairs.
      m identical documents already collide in *every* band, and true
      near-dup resolution for mega-clusters belongs to exact dedup
      (E1) upstream — dropping the degenerate bucket loses ~nothing.
    - ``oversize="salt"``: deterministically split an oversized bucket
      into ceil(m/max_bucket) sub-buckets by md5(id), pair within each
      sub-bucket. Bounded work with partial recall inside the hot
      bucket (each doc still pairs with ~max_bucket peers).

    Pass a ``pyspark.sql.Observation`` as ``observation`` to get
    ``max_bucket_size`` / ``n_oversized_rows`` (rows living in
    over-cap buckets) metrics for free (collected during the same job,
    no extra action).

    ``pin`` controls lineage for the twice-consumed band stream (see
    the inline note): ``"checkpoint"`` (default) and ``"persist"``
    materialize the compact banded rows once; ``"recompute"``
    re-executes the signature pipeline for the probe side — sound
    because signatures are a pure per-row function of the input (md5
    family, no rand), so both executions see identical bucket
    contents, and the right call only when the upstream is cheaper
    than materialization. With ``pin="persist"`` the cached banded
    frame is exposed as ``result._pinned_banded`` so callers can
    ``unpersist()`` it once the pairs materialize (nothing else holds
    a releasable handle)."""
    banded = _banded(signatures, n_hashes, bands)
    # Bucket sizes via groupBy on the band stream — NOT a window count
    # over the band key: partial (map-side) aggregation collapses a
    # degenerate bucket to one row per upstream partition, where a
    # window would buffer the hot bucket's entire membership in one
    # task before the cap can drop it. Only the over-cap bucket KEYS
    # (rare by construction) broadcast back.
    #
    # The band stream is consumed twice (size aggregate + join-back)
    # and the partial-agg exchange differs from the join exchange, so
    # Catalyst cannot reuse one execution; ``pin`` picks who pays.
    # Measured head-to-head (tools/exp_lsh_pin.py; 12 interleaved warm
    # reps at sf0.1, round 5): checkpoint med 1.37 s, persist 1.50 s,
    # recompute 1.53 s — sequential single-strategy runs swing +-0.3 s
    # on this box, so only the interleaved comparison is trustworthy
    # (the round-4 "0.5 s checkpoint write constant" was that noise).
    # Checkpoint is also the right 100 TB shape: the signature upstream
    # dominates there (re-scanning raw corpus text + re-hashing every
    # shingle dwarfs storing the compact (id, band, 8B-hash) rows).
    pinned = None
    if pin == "persist":
        from pyspark import StorageLevel

        # PySpark's MEMORY_AND_DISK is the SERIALIZED level (the
        # _DESER variant is the deserialized one)
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        pinned = banded
    elif pin == "checkpoint":
        banded = banded.localCheckpoint(eager=False)
    elif pin != "recompute":
        raise ValueError(f"pin must be 'recompute', 'persist' or 'checkpoint', got {pin!r}")
    sizes = banded.groupBy("band_idx", "band_hash").agg(F.count("*").alias("m"))
    if observation is not None:
        sizes = sizes.observe(
            observation,
            F.max("m").alias("max_bucket_size"),
            F.sum(F.when(F.col("m") > max_bucket, F.col("m")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oversized_rows"),
        )
    hot = sizes.filter(F.col("m") > max_bucket)
    if oversize == "drop":
        bounded = banded.join(
            F.broadcast(hot.select("band_idx", "band_hash")),
            ["band_idx", "band_hash"],
            "left_anti",
        )
        keys = ["band_idx", "band_hash"]
    elif oversize == "salt":
        n_subs = F.ceil(F.col("m") / max_bucket).cast("long")
        bounded = (
            banded.join(F.broadcast(hot), ["band_idx", "band_hash"], "left")
            .withColumn(
                "sub",
                F.when(F.col("m").isNull(), F.lit(0)).otherwise(
                    F.pmod(md5_long(F.col("id").cast("string")), n_subs)
                ),
            )
            .drop("m")
        )
        keys = ["band_idx", "band_hash", "sub"]
    else:
        raise ValueError(f"oversize must be 'drop' or 'salt', got {oversize!r}")
    buckets = (
        bounded.groupBy(*keys)
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    out = (
        buckets.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"),
        )
        .distinct()
    )
    if pinned is not None:
        # pin="persist" caches the banded stream with no other handle to
        # release it — expose it so callers can unpersist() after the
        # pairs materialize (checkpoint, the default, needs no cleanup:
        # local checkpoint files die with the executors)
        out._pinned_banded = pinned
    return out


def jaccard_pairs(
    shingled: DataFrame, min_shared: int = 1, max_df: int | None = 1000
) -> DataFrame:
    """E2/E4 exact n-gram Jaccard similarity for every pair sharing at
    least ``min_shared`` shingles. jaccard = |A∩B| / (|A| + |B| - |A∩B|).

    The equi-join on shingle (not a cross join) bounds the work to pairs
    that actually co-occur; document sizes come from a tiny side agg.

    Document-frequency cap (the 100 TB safety valve): a stop-phrase
    shingle shared by d documents contributes d^2/2 rows to the
    intersection join — one boilerplate 3-gram in 1M docs is ~10^12
    join rows. ``max_df`` drops shingles appearing in more than that
    many documents BEFORE the self-join, so per-shingle fan-out is
    bounded by max_df^2. The document frequency comes from a groupBy
    over the checkpointed shingle stream plus a broadcast anti-join of
    the tiny over-cap set — partial aggregation collapses a stop-phrase
    shingle map-side, where a window count would buffer its whole
    partition in one task before the cap could drop it (and the
    checkpoint keeps the upstream shingle pipeline single-pass).
    Jaccard is
    then computed over the *pruned* shingle sets on both sides of the
    ratio (a similarity
    restricted to discriminative shingles — the standard DF-cap
    semantics, mirrored exactly in the DuckDB oracle). ``max_df=None``
    disables the cap.

    The self-join key is the 56-bit md5 of the shingle, never the raw
    string: at 100 TB the intersection shuffle moves 8-byte keys
    instead of ~20-char text (both engines hash identically, so any
    56-bit collision affects both sides the same way and the oracle
    stays exact). Input may be (id, shingle) rows (word_shingles) or
    pre-hashed (id, sh) rows (shingle_hashes_arrow — the fast path).
    Skeleton shared via pair_overlap (checkpoint-once shingle stream,
    partial-agg + broadcast-anti-join DF cap, unhinted corpus-scaling
    sizes joins — the round-2 tfidf lesson)."""
    from ..functions.rounding import ratio_round

    return pair_overlap(shingled, min_shared, max_df).select(
        "id_a",
        "id_b",
        ratio_round(
            F.col("n_shared"),
            F.col("size_a") + F.col("size_b") - F.col("n_shared"),
            4,
        ).alias("jaccard"),
    )


def pair_overlap(
    shingled: DataFrame, min_shared: int = 1, max_df: int | None = 1000
) -> DataFrame:
    """Shared skeleton of the exact pairwise set-overlap family
    (jaccard_pairs, containment_pairs, the estimator calibration):
    co-occurring (id_a < id_b) pairs with their intersection size and
    both (DF-cap-pruned) set sizes. See jaccard_pairs for the 100 TB
    notes (hashed 8-byte join keys, checkpoint-once shingle stream,
    partial-agg + broadcast-anti-join DF cap, unhinted sizes joins)."""
    if "sh" not in shingled.columns:
        shingled = shingled.select("id", md5_long("shingle").alias("sh"))
    shingled = shingled.localCheckpoint(eager=False)
    if max_df is not None:
        hot = (
            shingled.groupBy("sh").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
        )
        shingled = shingled.join(F.broadcast(hot.select("sh")), "sh", "left_anti")
    sizes = shingled.groupBy("id").agg(F.count("*").alias("n_shingles"))
    l, r = shingled.alias("l"), shingled.alias("r")
    inter = (
        l.join(r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def containment_pairs(
    shingled: DataFrame, min_shared: int = 1, max_df: int | None = 1000
) -> DataFrame:
    """E2 asymmetric containment: for co-occurring pairs,
    containment_a = |A∩B| / |A| and containment_b = |A∩B| / |B| — the
    SUB-DOCUMENT duplication signal Jaccard misses: a short document
    quoted whole inside a long one has near-1 containment_a but tiny
    Jaccard (Broder 1997's two resemblance measures). The standard
    near-superset detector for wrapper/boilerplate-embedded copies.

    Identical scale skeleton to jaccard_pairs (pair_overlap); only the
    ratio denominators differ."""
    from ..functions.rounding import ratio_round

    return pair_overlap(shingled, min_shared, max_df).select(
        "id_a",
        "id_b",
        F.col("n_shared"),
        ratio_round(F.col("n_shared"), F.col("size_a"), 4).alias("containment_a"),
        ratio_round(F.col("n_shared"), F.col("size_b"), 4).alias("containment_b"),
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """E2 SimHash: per distinct token, a 56-bit hash votes +1/-1 on each of
    ``bits`` positions; the sign pattern packs into one integer.

    Implemented as ``bits`` conditional-sum aggregates over one exploded
    token set — no UDF, fully codegen, and exactly reproducible in SQL."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    tokens = df.repartition(parallelism, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("tok"),
    )
    h = md5_long("tok")
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    voted = tokens.groupBy("id").agg(*votes)
    packed = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return voted.select("id", packed.cast("long").alias("simhash"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges larger->smaller, then every
    node links its smaller neighbors (and itself) to the minimum."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _two_phase_cc(e: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Alternate large-star/small-star until the edge set fixes. Returns
    (parent edges u->component, rounds used). Converges in O(log n)
    rounds even on path graphs (each round roughly halves tree height),
    where min-label propagation needs O(diameter)."""
    from pyspark.sql import Observation

    rounds = 0
    prev_sig = None
    while rounds < max_iter:
        obs = Observation(f"two_phase_round_{rounds}")
        e = (
            _small_star(_large_star(e))
            # fixed-point signature from an Observation on the SAME job
            # that materializes the round — no separate agg job.
            # decimal sum: a long sum of 64-bit hashes overflows (ANSI)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            )
            .localCheckpoint()
        )
        rounds += 1
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    return e, rounds


def simhash_arrow(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16, spread: bool = False
) -> DataFrame:
    """E2 SimHash, Arrow escape hatch: bit-identical to :func:`simhash`
    but computed entirely inside one mapInPandas kernel — no explode, no
    groupBy shuffle at all (each document's votes are local to its
    split). Property tests pin kernel == expression form."""

    out_schema = f"id {dict(df.dtypes)[id_col]}, simhash long"
    if spread:  # single-file local inputs: see winnowing_fingerprints_arrow
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids: list = []
            counts: list[int] = []
            msgs: list[bytes] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = set(text.lower().split(" "))
                ids.append(doc_id)
                counts.append(len(toks))
                msgs.extend(t.encode("utf-8") for t in toks)
            if not ids:
                continue
            h = _md5_u56_batch(msgs).astype(np.uint64)
            starts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(np.asarray(counts[:-1], dtype=np.int64), out=starts[1:])
            packed = np.zeros(len(ids), dtype=np.int64)
            for i in range(bits):
                votes = (((h >> np.uint64(i)) & np.uint64(1)).astype(np.int64) * 2) - 1
                packed += (np.add.reduceat(votes, starts) > 0).astype(np.int64) * (1 << i)
            yield pd.DataFrame({"id": ids, "simhash": packed})

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "label_prop",
) -> DataFrame:
    """Connected components over an undirected edge list -> (id,
    component), component = the minimum id reachable from the node.
    This is the step that turns near-dup candidate PAIRS (LSH/Jaccard)
    into dedup GROUPS (keep min id per component, drop the rest).

    Two algorithms behind the ``algorithm`` flag:

    - ``"label_prop"`` (default, DuckDB-oracle-verified): each round
      every node takes the min label among itself and its neighbors
      (one shuffle-agg + one join per round); O(diameter) rounds.
      Near-dup graphs are clouds of tiny cliques chained through
      shared buckets, so diameter is small and the constant factor per
      round is lower.
    - ``"two_phase"``: large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — O(log n)
      rounds regardless of diameter; the scale path for adversarial
      chain-shaped dup graphs (tests assert ≤~log2(n) rounds on a
      1k-node path, where label_prop would need 999).

    Each round ends in localCheckpoint(): without it the plan/lineage
    doubles per iteration and Catalyst analysis time, not the data,
    becomes the bottleneck.

    Isolated nodes (no edges) are the caller's concern: every id in
    `edges` appears in the output; ids absent from `edges` don't.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if algorithm == "two_phase":
        parents, _ = _two_phase_cc(e, max_iter)
        roots = parents.select(F.col("v").alias("u"), F.col("v"))
        return (
            parents.unionByName(roots)
            .distinct()
            .select(F.col("u").alias("id"), F.col("v").alias("component"))
        )
    if algorithm != "label_prop":
        raise ValueError(f"algorithm must be 'label_prop' or 'two_phase', got {algorithm!r}")
    from pyspark.sql import Observation

    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()  # the loop re-reads sym every round
    )
    labels = sym.select("u").distinct().withColumn("comp", F.col("u"))
    for i in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr"))
        )
        # convergence is read from an Observation on the SAME job that
        # materializes the round (localCheckpoint is eager): one job per
        # round — the previous separate join-back changed-count roughly
        # doubled per-round wall time
        merged = F.least(F.col("comp"), F.coalesce("nbr", F.col("comp")))
        obs = Observation(f"cc_round_{i}")
        new = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                merged.alias("new_comp"),
                (merged != F.col("comp")).cast("long").alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("n_changed"))
            .select("u", F.col("new_comp").alias("comp"), "_chg")
            .localCheckpoint()
        )
        labels = new.drop("_chg")
        if not obs.get["n_changed"]:
            break
    return labels.select(F.col("u").alias("id"), F.col("comp").alias("component"))


def ranked_posting_stages(
    shingled: DataFrame,
    max_df: int | None = 1000,
    prepinned: bool = False,
) -> dict:
    """Threshold-INDEPENDENT front-end shared by the exact thresholded
    set-similarity joins (prefix_filter_stages / containment_prefix_
    stages, VERDICT r10 #6): pinned df-capped postings, per-doc sizes,
    the document-frequency table, and the rare-first ranked postings
    (row_number per doc over (df, sh)). The similarity thresholds only
    pick PREFIX LENGTHS downstream, so one ranked frame serves both
    the Jaccard and the containment join — callers memoize this bundle
    per fixture and pass it as ``front=``; ranked is pinned because the
    collision step self-joins it (two reads of one materialization
    beat two window+join subtrees)."""
    from pyspark.sql.window import Window

    if "sh" not in shingled.columns:
        shingled = shingled.select("id", md5_long("shingle").alias("sh"))
    if not prepinned:
        # callers sharing one pinned postings frame across queries pass
        # prepinned=True — a second pin here would re-materialize the
        # identical rows (measured +5 s at sf0.1, VERDICT r10 #6)
        shingled = shingled.localCheckpoint(eager=False)
    if max_df is not None:
        hot = (
            shingled.groupBy("sh").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
        )
        shingled = shingled.join(
            F.broadcast(hot.select("sh")), "sh", "left_anti"
        ).localCheckpoint(eager=False)
    sizes = shingled.groupBy("id").agg(F.count("*").alias("n"))
    df_tab = shingled.groupBy("sh").agg(F.count("*").alias("df"))
    ranked = (
        shingled.join(df_tab, "sh")
        .withColumn(
            "pos", F.row_number().over(Window.partitionBy("id").orderBy("df", "sh"))
        )
        .join(sizes, "id")
        .localCheckpoint(eager=False)
    )
    return {"shingled": shingled, "sizes": sizes, "df_tab": df_tab, "ranked": ranked}


def prefix_filter_stages(
    shingled: DataFrame,
    threshold_pct: int = 40,
    max_df: int | None = 1000,
    prepinned: bool = False,
    front: dict | None = None,
) -> dict:
    """Intermediate frames of :func:`prefix_filter_pairs`, exposed so
    the scale probe (tools/probe_prefix_filter.py) and the bound tests
    can COUNT the post-prefix exchange and the candidate set without
    duplicating the plan. Keys: shingled (post df-cap postings), sizes,
    prefix (the postings that enter the self-join), cand (deduped
    size-filtered candidate pairs)."""
    if front is None:
        front = ranked_posting_stages(shingled, max_df, prepinned)
    shingled, sizes, ranked = front["shingled"], front["sizes"], front["ranked"]
    pct = int(threshold_pct)
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(f"({pct} * n + 99) div 100") + 1
    )
    pa = prefix.select(
        F.col("id").alias("id_a"),
        "sh",
        "df",
        F.col("pos").alias("pos_a"),
        F.col("n").alias("size_a"),
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        "sh",
        F.col("pos").alias("pos_b"),
        F.col("n").alias("size_b"),
    )
    collided = (
        pa.join(pb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("size_a", "size_b") * 100
            >= F.greatest("size_a", "size_b") * F.lit(pct)
        )
    )
    # PPJoin POSITIONAL filter (Xiao 2008; round-7 item #9): at a
    # pair's FIRST common token in the global (df, sh) order, no
    # earlier token of either side is shared (both per-doc orders
    # restrict the same global order), so
    #   overlap <= 1 + min(size_a - pos_a, size_b - pos_b),
    # while Jaccard >= pct/100 needs
    #   overlap >= ceil(pct * (size_a + size_b) / (100 + pct)).
    # Candidates whose upper bound misses that minimum are EXACTLY
    # prunable before the verification joins, and the bound is sound
    # for every qualifying pair, so completeness is untouched
    # (oracle-pinned).
    #
    # Round 9: the per-ROW form of the same bound runs MAP-SIDE before
    # the min_by aggregate. Lossless: the bound is monotone DECREASING
    # in (pos_a, pos_b), and a qualifying pair satisfies it at its
    # first common token — so that row always survives, rows dropped
    # are never a qualifying pair's first token, and min_by over the
    # survivors still finds the true first (any pair whose first-token
    # row fails has every row fail, which is exactly the prune).
    # Shuffle BYTES are unchanged (partial aggregation already
    # collapses token rows to one row per pair before the exchange) —
    # the cut is the 54% of colliding token rows that no longer enter
    # the partial aggregate's hash update (probe-recorded at 1x/4x/16x).
    row_o_min = F.expr(
        f"({pct} * (size_a + size_b) + {100 + pct - 1}) div {100 + pct}"
    )
    collided_b = collided.filter(
        F.lit(1)
        + F.least(
            F.col("size_a") - F.col("pos_a"),
            F.col("size_b") - F.col("pos_b"),
        )
        >= row_o_min
    )
    first = collided_b.groupBy("id_a", "id_b").agg(
        F.min_by(
            F.struct("pos_a", "pos_b", "size_a", "size_b"),
            F.struct("df", "sh"),
        ).alias("fc")
    )
    o_min = F.expr(
        f"({pct} * (fc.size_a + fc.size_b) + {100 + pct - 1}) div {100 + pct}"
    )
    cand = first.filter(
        F.lit(1)
        + F.least(
            F.col("fc.size_a") - F.col("fc.pos_a"),
            F.col("fc.size_b") - F.col("fc.pos_b"),
        )
        >= o_min
    ).select("id_a", "id_b")
    return {
        "shingled": shingled,
        "sizes": sizes,
        "prefix": prefix,
        "collided": collided,
        "collided_bounded": collided_b,
        "cand": cand,
    }


def containment_prefix_stages(
    shingled: DataFrame,
    threshold_pct: int = 60,
    max_df: int | None = 1000,
    prepinned: bool = False,
    front: dict | None = None,
) -> dict:
    """Intermediate frames of :func:`containment_prefix_pairs` (probe +
    bound-test surface, mirroring prefix_filter_stages). Keys:
    shingled, sizes, collided (prefix-collision pairs pre-bound), cand
    (post-positional-bound candidates)."""
    if front is None:
        front = ranked_posting_stages(shingled, max_df, prepinned)
    shingled, sizes, ranked = front["shingled"], front["sizes"], front["ranked"]
    pct = int(threshold_pct)
    # each doc's prefix AS THE POTENTIAL MIN SIDE: a qualifying pair
    # needs overlap >= ceil(pct * n_min / 100), so the min-side doc
    # must share a token within its first n - ceil(pct*n/100) + 1
    # rare-first tokens. The partner side cannot prune (its required
    # overlap depends on the partner's size), so the collision joins
    # min-side prefixes against FULL ranked postings.
    sm = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(f"({pct} * n + 99) div 100") + 1
    ).select(
        F.col("id").alias("id_s"),
        "sh",
        "df",
        F.col("pos").alias("pos_s"),
        F.col("n").alias("n_s"),
    )
    lg = ranked.select(
        F.col("id").alias("id_l"),
        "sh",
        F.col("pos").alias("pos_l"),
        F.col("n").alias("n_l"),
    )
    collided = sm.join(lg, "sh").filter(
        F.struct(F.col("n_s"), F.col("id_s")) < F.struct(F.col("n_l"), F.col("id_l"))
    )
    # positional bound at the pair's first common token in the global
    # (df, sh) order (valid: the min side's prefix holds its globally
    # smallest tokens, so the smallest SHARED token is inside the
    # prefix whenever any is): overlap <= 1 + min(remaining on each
    # side) must reach ceil(pct * n_s / 100). Applied per ROW map-side
    # first (round 9, same soundness as prefix_filter_stages: the
    # bound decreases monotonically along a pair's common tokens, so a
    # qualifying pair's first-token row always survives and min_by
    # still finds it) — fewer rows enter the partial aggregate.
    row_o_min = F.expr(f"({pct} * n_s + 99) div 100")
    collided_b = collided.filter(
        F.lit(1) + F.least(F.col("n_s") - F.col("pos_s"), F.col("n_l") - F.col("pos_l"))
        >= row_o_min
    )
    first = collided_b.groupBy("id_s", "id_l").agg(
        F.min_by(
            F.struct("pos_s", "pos_l", "n_s", "n_l"),
            F.struct("df", "sh"),
        ).alias("fc")
    )
    o_min = F.expr(f"({pct} * fc.n_s + 99) div 100")
    cand = first.filter(
        F.lit(1)
        + F.least(
            F.col("fc.n_s") - F.col("fc.pos_s"),
            F.col("fc.n_l") - F.col("fc.pos_l"),
        )
        >= o_min
    ).select("id_s", "id_l")
    return {
        "shingled": shingled,
        "sizes": sizes,
        "collided": collided,
        "collided_bounded": collided_b,
        "cand": cand,
    }


def containment_prefix_pairs(
    shingled: DataFrame,
    threshold_pct: int = 60,
    max_df: int | None = 1000,
    prepinned: bool = False,
    front: dict | None = None,
) -> DataFrame:
    """E2: EXACT all-pairs max-containment >= tau self-join via prefix
    + PPJoin positional filtering (VERDICT r8 #5) — the thresholded
    form of :func:`containment_pairs`. max(containment_a,
    containment_b) = |A∩B| / min(|A|,|B|), so a qualifying pair needs
    overlap >= ceil(pct * n_min / 100): the MIN side's rare-first
    prefix must collide (prefix principle with the min-size
    denominator), and at the first common token the same positional
    upper bound 1 + min(remaining_a, remaining_b) applies. Candidates
    are re-verified against full token sets on the integer
    cross-multiplication 100 * |A∩B| >= pct * min(|A|,|B|) — exact,
    no float boundary; the DuckDB oracle computes the brute-force
    thresholded join, so the hash pins BOTH soundness and
    completeness of the pruning.

    Output is canonical id_a < id_b with both asymmetric containments
    (same columns as containment_pairs plus the threshold filter)."""
    from ..functions.rounding import ratio_round

    stages = containment_prefix_stages(shingled, threshold_pct, max_df, prepinned, front)
    shingled, sizes, cand = stages["shingled"], stages["sizes"], stages["cand"]
    pct = int(threshold_pct)
    full_s = shingled.select(F.col("id").alias("id_s"), "sh")
    full_l = shingled.select(F.col("id").alias("id_l"), "sh")
    inter = (
        cand.join(full_s, "id_s")
        .join(full_l, ["id_l", "sh"])
        .groupBy("id_s", "id_l")
        .agg(F.count("*").alias("n_shared"))
    )
    ss = sizes.select(F.col("id").alias("id_s"), F.col("n").alias("n_s"))
    sl = sizes.select(F.col("id").alias("id_l"), F.col("n").alias("n_l"))
    verified = (
        inter.join(ss, "id_s")
        .join(sl, "id_l")
        .filter(F.col("n_shared") * 100 >= F.least("n_s", "n_l") * F.lit(pct))
    )
    id_a = F.least("id_s", "id_l")
    size_a = F.when(F.col("id_s") == id_a, F.col("n_s")).otherwise(F.col("n_l"))
    size_b = F.when(F.col("id_s") == id_a, F.col("n_l")).otherwise(F.col("n_s"))
    return verified.select(
        id_a.alias("id_a"),
        F.greatest("id_s", "id_l").alias("id_b"),
        F.col("n_shared"),
        ratio_round(F.col("n_shared"), size_a, 4).alias("containment_a"),
        ratio_round(F.col("n_shared"), size_b, 4).alias("containment_b"),
    )


def prefix_filter_pairs(
    shingled: DataFrame,
    threshold_pct: int = 40,
    max_df: int | None = 1000,
    prepinned: bool = False,
    front: dict | None = None,
) -> DataFrame:
    """E2: EXACT all-pairs Jaccard >= tau similarity self-join via
    prefix filtering (Chaudhuri/Ganti/Kaushik 2006 SSJoin, Bayardo
    2007 All-Pairs, Xiao 2008 PPJoin) — the third scale path of the
    near-dup family alongside LSH (probabilistic, e2_lsh_*) and the
    full co-occurrence join (pair_overlap, exact but joins EVERY
    token). Unlike both, it is exact AND prunes: a pair with
    Jaccard >= tau must (a) have min_size >= tau * max_size and
    (b) share at least one token among each side's first
    n - ceil(tau*n) + 1 tokens under any fixed global token order, so
    only those PREFIX tokens enter the self-join. With rare-first
    ordering (ascending document frequency) the surviving join keys
    are precisely the most selective tokens: per-key fan-out collapses
    toward df=1 and the candidate exchange is a small fraction of the
    full token join at any corpus size.

    Exactness: candidates are re-verified against the FULL token sets
    and filtered on the integer cross-multiplication
    100*|A&B| >= pct*(|A|+|B|-|A&B|) — no float threshold boundary,
    and the prefix bound guarantees no qualifying pair is missed
    (completeness holds for ANY consistent token order, so the oracle
    needs no notion of the order at all).

    Scale notes: tokens-per-doc ranking is a PER-DOCUMENT window
    (bounded by doc size — never corpus-wide); document frequency is a
    partial-aggregable groupBy joined back on the 8-byte hashed token;
    the DF cap mirrors pair_overlap's broadcast-anti-join semantics;
    verification joins are candidate-driven equi-joins on (id) then
    (id, sh). threshold_pct is an integer percent so every comparison
    on both engines is exact int64 arithmetic."""
    stages = prefix_filter_stages(shingled, threshold_pct, max_df, prepinned, front)
    shingled, sizes, cand = stages["shingled"], stages["sizes"], stages["cand"]
    pct = int(threshold_pct)
    full_a = shingled.select(F.col("id").alias("id_a"), "sh")
    full_b = shingled.select(F.col("id").alias("id_b"), "sh")
    inter = (
        cand.join(full_a, "id_a")
        .join(full_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("size_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("size_b"))
    from ..functions.rounding import ratio_round

    union_sz = F.col("size_a") + F.col("size_b") - F.col("n_shared")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("n_shared") * 100 >= union_sz * F.lit(pct))
        .select(
            "id_a",
            "id_b",
            F.col("n_shared"),
            ratio_round(F.col("n_shared"), union_sz, 4).alias("jaccard"),
        )
    )
