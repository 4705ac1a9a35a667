"""Text / document operators for large-scale training-data pipelines.

All hot paths are either pure ``pyspark.sql.functions`` column expressions
(JVM-side, whole-stage codegen) or Arrow-batched pandas UDFs — no per-row
Python in any shuffle-adjacent stage.

Dedup family:
- :func:`exact_dedup`        hash-groupBy on a normalized fingerprint
- :func:`minhash_portable_signatures` word-shingle MinHash: per-seed
  min(md5(seed || shingle)), one vectorized Arrow pass; bit-identical to
  a plain-SQL recomputation (oracle-checked)
- :func:`minhash_portable_pairs` MinHash+LSH near-dup pairs: banded bucket
  equi-join on those signatures, estimated-Jaccard verify
- :func:`incremental_minhash_pairs` probe a new batch against a stored
  signature corpus (the streaming dedup path)
- :func:`simhash_near_pairs` 64-bit SimHash signatures in one Arrow pass
  (:func:`_simhash_table`), 4x16-bit block tables (pigeonhole-exact to
  hamming 3), block rows via one posexplode of the checkpointed signature
- :func:`ngram_jaccard_pairs` exact Jaccard via a PREFIX-FILTERED
  inverted-index join (Bayardo WWW'07; hot tokens sort last, so skew is
  bounded by construction; never an all-pairs self-join)

Every candidate self-join above is :func:`.pairs.self_join`, the dense
Jaccard path scans its buckets with :func:`.pairs.upper_pairs`, and both
MinHash pipelines verify through :func:`_signature_verify`.

Analysis family:
- :func:`token_stats`        whitespace + regex token counts (pure F.*)
- :func:`quality_score`      length/punct/stopword/distinct ratios (pure F.*)
- :func:`lang_id`            char-frequency letter heuristic (pure F.*)
- :func:`lang_id_ngram`      char-trigram naive-Bayes LID with learned
  profiles (:func:`lang_ngram_profiles`) — the real model
- :func:`doc_fingerprint`    normalized rolling fingerprint (md5)

Splits: :func:`train_test_split` and :func:`stratified_sample` share one
engine-portable md5 bucket (:func:`_md5_bucket`).

At 100 TB the shapes matter more than the hashes: exact dedup is one
shuffle on the fingerprint; LSH is explode(bands) + shuffle on band key
(band cardinality >> doc count, so no hot keys); Jaccard shuffles on
(bucket, token) with exact prefix filtering bounding hot-token fan-out.

Plan-reuse note: every pipeline here references its signature relation
from more than one plan branch (banded explode + both self-join sides).
Spark does NOT reuse a subtree across branches — each branch re-executes
the full word-explode + aggregation (measured 3-8x on these pipelines) —
so the signature relation is materialized once via ``localCheckpoint``
(signatures are tiny relative to the corpus: a few hashes per doc).  On a
real cluster swap ``localCheckpoint`` for a reliable ``checkpoint`` dir
if executor loss mid-query must not fail the job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .. import gates
from . import pairs

STOPWORDS = ("the", "a", "of", "and", "to", "in")


# ----------------------------------------------------------------- exact --

def normalized_text(col="text"):
    """lowercase + collapse whitespace — the canonical dedup key."""
    return F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 of normalized text — document fingerprinting."""
    return docs.select("doc_id", F.md5(normalized_text()).alias("fp"))


def exact_dedup(docs: DataFrame, key=None) -> DataFrame:
    """Exact duplicate groups: fingerprint -> (fp, n_docs, keep_doc_id).

    keep = min doc_id (first-wins, mirroring the tile-merge semantics)."""
    key = key if key is not None else F.md5(normalized_text())
    return (
        docs.select(key.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


# ------------------------------------------------ portable (JVM) minhash --

def _shingles_col(text_col, k: int):
    """Catalyst expression: distinct word k-shingles of lower(text) as
    array<string> (whole-text fallback when fewer than k words)."""
    words = F.split(F.lower(F.trim(text_col)), r"\s+")
    joined = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )
    return F.array_distinct(joined)


def minhash_signatures_expr(
    docs: DataFrame, n_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    """MinHash computed entirely JVM-side: explode the distinct shingles,
    take per-seed min(md5(seed || shingle)) strings — the semantic
    reference formulation (and the shape of the oracle SQL twin).  A test
    reference: no query runs it.  :func:`minhash_portable_signatures`
    computes the identical values through one vectorized Arrow pass;
    tests pin them equal."""
    # small parquet inputs arrive as ONE scan partition; spread the docs
    # first or the explode + md5 partial-aggregation runs in a single task
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = docs.repartition(par).select(
        "doc_id", F.explode(_shingles_col(F.col("text"), shingle_k)).alias("s")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_portable_signatures(
    docs: DataFrame, n_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    """MinHash signatures: per-seed min(md5(seed || shingle)) over each
    doc's distinct shingles.  Returns (doc_id, h0..h{n-1} string) —
    bit-identical to :func:`minhash_signatures_expr` (the JVM explode +
    md5-min-aggregate formulation, and the oracle SQL twin).

    r8 shape: the shingle ARRAYS are still built by Catalyst (split /
    slice semantics unchanged), but hashing moves into one vectorized
    Arrow pass that md5's each DISTINCT shingle per batch once
    (pd.factorize) instead of once per occurrence — on duplicate-heavy
    corpora that is a ~5-10x cut in md5 calls — and takes per-doc minima
    as vectorized 128-bit (hi, lo) uint64 reductions (hex strings of
    equal length compare identically to their numeric value, so the
    reduced min is the same string the JVM picks)."""
    import hashlib

    import numpy as np

    par = docs.sparkSession.sparkContext.defaultParallelism
    k = shingle_k
    # words (not shingles) cross the boundary: the shingle strings are
    # assembled in Python with the identical windowing/fallback rule as
    # _shingles_col — ' '.join of word slices is byte-identical to
    # concat_ws — which avoids shipping ~k x the text AND evaluating the
    # transform/concat_ws higher-order expression (CodegenFallback) per
    # shingle
    sh = (
        docs.repartition(par)
        .select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
        )
        .filter(F.col("ws").isNotNull())
    )
    schema = "doc_id long" + "".join(f", h{i} string" for i in range(n_hashes))
    prefixes = [f"s{i}:".encode() for i in range(n_hashes)]
    U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)

    def batches(it):
        for pdf in it:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            shingles = []
            lens = np.empty(n_docs, dtype="i8")
            for row_i, words in enumerate(pdf["ws"]):
                words = list(words)
                m = max(len(words) - (k - 1), 1)
                # windows may shorten at the tail exactly like slice()
                shingles.extend(
                    " ".join(words[i : i + k]) for i in range(m)
                )
                lens[row_i] = m
            flat = np.asarray(shingles, dtype=object)
            codes, uniq = pd.factorize(flat)
            ub = [s.encode("utf-8") for s in uniq]
            starts = np.zeros(n_docs, dtype="i8")
            np.cumsum(lens[:-1], out=starts[1:])
            occ = np.repeat(np.arange(n_docs), lens)
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for i in range(n_hashes):
                pre = prefixes[i]
                buf = b"".join(hashlib.md5(pre + s).digest() for s in ub)
                hl = np.frombuffer(buf, dtype=">u8").reshape(-1, 2)
                hi, lo = hl[:, 0], hl[:, 1]
                ohi, olo = hi[codes], lo[codes]
                minhi = np.minimum.reduceat(ohi, starts)
                lo_masked = np.where(ohi == minhi[occ], olo, U64MAX)
                minlo = np.minimum.reduceat(lo_masked, starts)
                out[f"h{i}"] = [
                    f"{int(a):016x}{int(b):016x}" for a, b in zip(minhi, minlo)
                ]
            yield pd.DataFrame(out)

    return sh.mapInPandas(batches, schema)


def _minhash_banded(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bucket) — the LSH bucket key per band from a
    portable-signature relation (h0..h{n-1} columns)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.concat_ws(
                            "|", *[f"h{t * rows + j}" for j in range(rows)]
                        ).alias("bucket"),
                    )
                    for t in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_portable_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline on the portable signatures:
    banded bucket equi-join for candidates, signature-estimated Jaccard
    verify. One shuffle keyed by (band, bucket); bucket cardinality scales
    with corpus size so no hot keys. Returns (doc_a, doc_b, est_jaccard)."""
    assert n_hashes % bands == 0, "n_hashes must divide evenly into bands"
    rows = n_hashes // bands
    # materialize the signatures ONCE: they feed the banded explode AND
    # both verify sides — unpersisted, Spark re-executes the shingle
    # explode + n_hashes md5-min aggregation once per branch (3x measured)
    sigs = minhash_portable_signatures(docs, n_hashes, shingle_k).localCheckpoint(
        eager=True
    )
    n_docs = sigs.count()  # cheap agg over the materialized checkpoint
    # broadcast one self-join side: the bucket equi-join stays map-side
    cand = pairs.self_join(
        _minhash_banded(sigs, bands, rows), ("band", "bucket"),
        broadcast=gates.fits("minhash_broadcast_band_rows", n_docs * bands),
    ).distinct()
    # the candidate relation is never shuffled for the estimate join
    return _signature_verify(
        cand, sigs, n_hashes, threshold,
        gates.fits("minhash_broadcast_signatures", n_docs),
    )


def _signature_verify(
    cand: DataFrame, sigs: DataFrame, n_hashes: int, threshold: float,
    broadcast: bool = False,
) -> DataFrame:
    """Candidate pairs (doc_a, doc_b, carried columns) -> those whose
    signature-estimated Jaccard (the share of the ``n_hashes`` MinHash
    values of ``sigs`` the two docs agree on) is >= ``threshold``:
    (doc_a, doc_b, est_jaccard, carried columns).  ``broadcast`` (the
    caller's gate decision) hints both signature sides of the estimate
    join.

    The match count is a plain sum of column equalities: the former
    aggregate(zip_with(...)) is a CodegenFallback higher-order function,
    interpreted per candidate row; the integer sum / n_hashes double
    division is value-identical."""
    sa, sb = (
        sigs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(f"h{i}").alias(f"h{s}{i}") for i in range(n_hashes)],
        )
        for s in "ab"
    )
    if broadcast:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    matches = sum(
        ((F.col(f"ha{i}") == F.col(f"hb{i}")).cast("int") for i in range(n_hashes)),
        F.lit(0),
    )
    carried = [c for c in cand.columns if c not in ("doc_a", "doc_b")]
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", matches / F.lit(float(n_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard", *carried)
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
    corpus_bands: DataFrame | None = None,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental-crawl dedup: probe a NEW batch of docs against an
    EXISTING corpus without touching the corpus text.

    ``corpus_sigs`` is the persisted signature relation
    (:func:`minhash_portable_signatures` output — store it alongside the
    corpus; a few md5 strings per doc).  Only the new batch is shingled
    and hashed, its banded buckets join the corpus' banded buckets
    (plus new-vs-new within the batch), and candidates verify on the
    signatures.  Returns (doc_a, doc_b, est_jaccard, is_new_pair bool:
    both sides from the new batch).

    The O(|new|) shape (the 100-TB requirement — a crawl batch must never
    pay a corpus-wide shuffle):

    - ``corpus_bands``: pass the STORED pre-banded relation (doc_id,
      band, bucket) — e.g. :func:`operators.sigstore.probe_sig_bands`'s
      pruned slice — and the per-batch banded explode of every corpus
      signature disappears; the candidate step becomes a broadcast
      equi-join of the small new-batch bands against an
      already-materialized (and file/row-group-pruned) index.  Omitted,
      the bands are derived from ``corpus_sigs`` (one full pass — fine
      for one-shot probes, wrong for a recurring ingest loop).
    - the verify base is built by SEMI-JOINING ``corpus_sigs`` to the
      candidate doc ids (broadcast of the small id set — a scan-side
      filter, no corpus shuffle), never by a corpus-wide
      ``union().distinct()``.
    - ``new_sigs``: pass the batch's already-checkpointed signatures to
      avoid recomputing them (the streaming front door computes them once
      for storage anyway)."""
    assert n_hashes % bands == 0, "n_hashes must divide evenly into bands"
    rows = n_hashes // bands
    if new_sigs is None:
        new_sigs = minhash_portable_signatures(
            new_docs, n_hashes, shingle_k
        ).localCheckpoint(eager=True)
    nb = _minhash_banded(new_sigs, bands, rows)
    cb = (
        corpus_bands
        if corpus_bands is not None
        else _minhash_banded(corpus_sigs, bands, rows)
    )
    x, c = nb.alias("x"), cb.alias("c")
    if corpus_bands is not None:
        # stored-index probe: the batch is the small side by construction —
        # force the broadcast (the checkpointed new relation has no size
        # stats, so Spark would otherwise sort-merge = shuffle the corpus)
        x = F.broadcast(x)
    # new vs corpus: every colliding (new, old) pair
    vs_corpus = (
        x.join(
            c,
            (F.col("x.band") == F.col("c.band"))
            & (F.col("x.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.lit(False).alias("is_new_pair"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    vs_new = pairs.self_join(
        nb, ("band", "bucket"), broadcast=corpus_bands is not None
    ).withColumn("is_new_pair", F.lit(True))
    # candidates feed the est join AND the verify-base semi-join — two
    # branches; materialize once (tiny: colliding pairs only)
    cand = vs_corpus.unionByName(vs_new).distinct().localCheckpoint(eager=True)
    # verify base: corpus signatures RESTRICTED to candidate ids via a
    # broadcast semi-join (scan-side filter — no corpus shuffle), never a
    # corpus-wide union().distinct().  Result-identical: ids outside the
    # candidate set can never reach the output.
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    matched = corpus_sigs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    # the verify base is tiny (candidate ids only) but feeds BOTH est-join
    # sides; checkpoint so the corpus-sig scan behind it runs once, not
    # once per side
    all_sigs = new_sigs.unionByName(matched).distinct().localCheckpoint(eager=True)
    out = _signature_verify(cand, all_sigs, n_hashes, threshold)
    # handles for callers that materialize the result and want to free the
    # internal checkpoints (the streaming loop must not leak blocks per
    # micro-batch)
    out._cand_ckpt = cand
    out._sigbase_ckpt = all_sigs
    return out


# --------------------------------------------------------------- simhash --

# SimHash bit b (0..63) is derived from hex digit b//4 of md5(word), bit
# b%4 of that digit — a fixed permutation of md5's first 64 bits, chosen
# because every SQL engine can extract it with substr + strpos arithmetic
# (the oracle computes the identical value).


def _simhash_votes(words_df: DataFrame) -> DataFrame:
    """(doc_id, v0..v63): per-bit majority votes over (doc_id, w) rows.
    Pure Catalyst: md5 -> two 32-bit hex chunks (2 conv calls per word,
    not 16) -> integer bit extraction -> 64 map-side partial sums (one
    shuffle on doc_id).

    Bit numbering (identical to the SQL oracle): bit b = bit (b % 4) of
    hex digit (b // 4); digit j lives at bits (7 - j % 8) * 4 of its
    32-bit chunk, so bit b = (chunk >> ((7 - j % 8) * 4 + b % 4)) & 1."""
    h = F.md5(F.col("w"))
    wd = words_df.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def bit(b):
        j, k = b // 4, b % 4
        chunk = F.col("hi") if j < 8 else F.col("lo")
        return F.shiftright(chunk, (7 - j % 8) * 4 + k).bitwiseAND(F.lit(1))

    votes = [F.sum(bit(b) * 2 - 1).alias(f"v{b}") for b in range(64)]
    return wd.groupBy("doc_id").agg(*votes)


def _simhash_full(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, v0..v63) — simhash plus the per-bit votes the
    block tables are sliced from.  A test reference, in pure Catalyst:
    queries run :func:`_simhash_table`, which the tests pin bit-identical
    to ``simhash_blocks(_simhash_full(docs))``."""
    # spread the (often single-partition) doc scan before the word explode
    # so the md5 + 64-vote partial aggregation parallelizes
    par = docs.sparkSession.sparkContext.defaultParallelism
    words = docs.repartition(par).select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    v = _simhash_votes(words)
    bit = lambda b: F.when(F.col(f"v{b}") > 0, 1).otherwise(0)  # noqa: E731
    val = F.lit(0).cast("long")
    for b in range(63):
        val = val + bit(b).cast("long") * F.lit(1 << b).cast("long")
    # bit 63 is the sign bit of the signed long
    val = val + bit(63).cast("long") * F.lit(-(1 << 63)).cast("long")
    return v.select("doc_id", val.alias("simhash"), *[F.col(f"v{b}") for b in range(64)])


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint): 64-bit SimHash over word hashes — bit b is
    the majority vote (strictly positive) of bit b across all word
    occurrences.  Entirely JVM-side column algebra: no Python UDF.  A test
    reference (over :func:`_simhash_full`): no query runs it."""
    return _simhash_full(docs).select("doc_id", "simhash")


def simhash_blocks(sh: DataFrame, n_blocks: int = 4) -> DataFrame:
    """Add block0..block{n-1}: 16-bit slices of the simhash, from the vote
    columns (avoids signed-shift edge cases). Pigeonhole: any pair within
    hamming <= n_blocks - 1 shares at least one identical block.  A test
    reference (over :func:`_simhash_full`): no query runs it."""
    width = 64 // n_blocks
    bit = lambda b: F.when(F.col(f"v{b}") > 0, 1).otherwise(0)  # noqa: E731
    out = sh
    for t in range(n_blocks):
        expr = F.lit(0)
        for j in range(width):
            expr = expr + bit(t * width + j) * F.lit(1 << j)
        out = out.withColumn(f"block{t}", expr.cast("long"))
    return out


def _simhash_table(docs: DataFrame, n_blocks: int = 4) -> DataFrame:
    """(doc_id, simhash, block0..{n-1}) — bit-identical to
    ``simhash_blocks(_simhash_full(docs))`` but computed in one vectorized
    Arrow pass (r8).

    The Catalyst formulation's 64 per-bit sum columns + the 64-term bit
    assembly compile into a codegen unit so large that janino spends ~3 s
    per execution REGARDLESS of data size (measured identical at sf0.1
    and sf1.0).  Here the word arrays are still produced by the JVM
    (split/lower/trim semantics unchanged), and the UDF computes md5 once
    per DISTINCT word per batch (pd.factorize — word multiplicity only
    hits the integer vote sums), extracts the 64 bits by integer nibble
    arithmetic (same numbering: bit b = bit (b%4) of hex digit (b//4)),
    and reduces ±1 votes per doc with np.add.reduceat.  MD5, the vote
    integers, and the two's-complement assembly are all exact, so every
    signature and block equals the Catalyst path's
    (tests/test_textops.py::test_simhash_table_matches_catalyst)."""
    import hashlib

    import numpy as np

    par = docs.sparkSession.sparkContext.defaultParallelism
    width = 64 // n_blocks
    words = (
        docs.repartition(par)
        .select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("ws")
        )
        # null text -> null array; the explode formulation dropped those
        # docs from the output — replicate
        .filter(F.col("ws").isNotNull())
    )
    out_schema = "doc_id long, simhash long" + "".join(
        f", block{t} long" for t in range(n_blocks)
    )

    def batches(it):
        for pdf in it:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            lens = pdf["ws"].map(len).to_numpy(dtype="i8")
            flat = np.concatenate([np.asarray(w, dtype=object) for w in pdf["ws"]])
            codes, uniq = pd.factorize(flat)
            # one md5 per distinct word; digest -> 32 hex digits as nibbles
            dig = np.frombuffer(
                b"".join(hashlib.md5(w.encode("utf-8")).digest() for w in uniq),
                dtype=np.uint8,
            ).reshape(len(uniq), 16)
            nib = np.empty((len(uniq), 32), dtype=np.uint8)
            nib[:, 0::2] = dig >> 4
            nib[:, 1::2] = dig & 0x0F
            starts = np.zeros(n_docs, dtype="i8")
            np.cumsum(lens[:-1], out=starts[1:])
            votes = np.empty((n_docs, 64), dtype="i8")
            for b in range(64):
                pm1 = (((nib[:, b // 4] >> (b % 4)) & 1).astype("i8") * 2 - 1)
                votes[:, b] = np.add.reduceat(pm1[codes], starts)
            bits = (votes > 0).astype(np.uint64)
            sh = np.zeros(n_docs, dtype=np.uint64)
            for b in range(64):
                sh |= bits[:, b] << np.uint64(b)
            out = {"doc_id": pdf["doc_id"].to_numpy(), "simhash": sh.view("i8")}
            for t in range(n_blocks):
                blk = np.zeros(n_docs, dtype="i8")
                for j in range(width):
                    blk += (votes[:, t * width + j] > 0).astype("i8") << j
                out[f"block{t}"] = blk
            yield pd.DataFrame(out)

    return words.mapInPandas(batches, out_schema)


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 8, n_blocks: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on n_blocks
    16-bit tables (union of per-block equi-joins — never all-pairs).

    Recall model: exact for hamming <= n_blocks - 1 (pigeonhole: some block
    must be untouched); above that a pair is found iff its differing bits
    spare one block — callers wanting guarantees at larger radii raise
    n_blocks.  Returns (doc_a, doc_b, hamming).

    Plan shape: the word-explode + 64-vote aggregation is computed ONCE
    (checkpointed); block rows fan out of that single relation via one
    posexplode instead of an n_blocks-way union (a union of branches over
    the same source re-executes the source per branch — with both
    self-join sides that was 2 * n_blocks full signature scans)."""
    sh = _simhash_table(docs, n_blocks).localCheckpoint(eager=True)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.col(f"block{t}") for t in range(n_blocks)])
        ).alias("tbl", "blk"),
    )
    # broadcasting one self-join side keeps the block equi-join map-side;
    # the count is a cheap agg over the materialized checkpoint
    cand = pairs.self_join(
        banded, ("tbl", "blk"), carry=("simhash",),
        broadcast=gates.fits("simhash_broadcast_block_rows", sh.count() * n_blocks),
    ).distinct()
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------- jaccard --

def _token_base(docs, bucket_col, lowercase, split_pattern):
    """(doc_id, bucket, hs, n) — each doc's distinct token set as a SORTED
    ``array<bigint>`` of xxhash64 token hashes, spread across the cluster.
    Materialized by the caller: it feeds the prefix index AND both verify
    sides of the candidate join.

    Hashing up front makes every downstream compare a long compare: the
    (bucket, token) equi-join key, the prefix ordering, and the exact
    verify (``array_intersect`` on longs) all skip string handling — the
    verify stage alone measured ~2x faster.  Exactness caveat: two
    distinct tokens colliding under xxhash64 would merge (p ~ n_tokens^2 /
    2^64 per doc — negligible, and the DuckDB oracle gate would flag it)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    text = F.lower(F.col("text")) if lowercase else F.col("text")
    toks_raw = F.array_distinct(F.split(text, split_pattern))
    hs = F.array_sort(F.transform(toks_raw, lambda tok: F.xxhash64(tok)))
    return (
        docs.repartition(par)
        .select("doc_id", F.col(bucket_col).alias("bucket"), hs.alias("hs"))
        .withColumn("n", F.size("hs"))
    )


def _hot_hashes(base) -> list:
    """Token hashes with document frequency over the
    ``jaccard_key_fanout`` cap — the heavy hitters that must sort LAST in
    the global prefix order — HARD-CAPPED at the ``jaccard_hot_tokens``
    most frequent (ties broken by hash asc, deterministic).

    The second cap is the driver/plan guard: the above-fanout set is
    bounded by ``total_token_rows / fanout`` which Zipf keeps tiny in
    practice, but a pathological corpus could push it to millions of
    in-plan literals — a plan-size blow-up.  When truncation kicks in,
    tokens above the fanout but below the top ``jaccard_hot_tokens``
    simply stay in the cold order — EXACTNESS is unaffected (any fixed
    global total order is valid for prefix filtering); only the skew
    bound for those keys relaxes to the df of the hottest token kept."""
    rows = gates.take(
        base.select(F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > gates.CAPS["jaccard_key_fanout"])
        .orderBy(F.desc("df"), F.asc("h")),
        "jaccard_hot_tokens",
    )
    return sorted(r.h for r in rows)


def _prefix_index(base, t_pref: float, hot: list | None = None):
    """Prefix-filtered inverted index: one (doc_id, bucket, n, h) row per
    PREFIX token hash — the ``|A| - ceil(t*|A|) + 1`` hashes of each doc
    that sort FIRST in the global (is_hot, hash) order, ~a ``1 - t``
    fraction of the doc.

    Hot-last is the part that actually bounds skew: a stopword present in
    every doc sorts LAST everywhere, so it enters a prefix only when a doc
    consists almost entirely of stopwords — hot (bucket, token) join keys
    are eliminated by construction, while every cold key's fan-out is <=
    the DF cutoff that defined ``hot``.  (A plain hash order does NOT
    bound skew: a token's global position is one coin flip, so a
    small-hash stopword would land in every prefix.)  Any fixed global
    total order preserves exactness, so the result set is unchanged.
    ``hot`` is applied with ``array_except``/``array_intersect`` against a
    literal — pure array expressions, no extra shuffle.

    Each index row also carries the token's 0-based POSITION in the
    doc's full ordered token array (prefix positions == full-array
    positions since the prefix is the array's head) — the input to
    ppjoin's positional filter in :func:`ngram_jaccard_pairs`."""
    ordered = F.col("hs")
    if hot:
        hot_lit = F.array(*[F.lit(int(h)) for h in hot])
        # hs is sorted, array_except/intersect preserve left order ->
        # (cold ascending) ++ (hot ascending) is a consistent total order
        ordered = F.concat(
            F.array_except(F.col("hs"), hot_lit),
            F.array_intersect(F.col("hs"), hot_lit),
        )
    # prefix length |A| - ceil(t*|A|) + 1; the 1e-9 guards float ceil at
    # exact multiples (ceil(0.7*10) must be 7, not 8)
    plen = F.greatest(
        F.lit(1),
        F.col("n")
        - F.ceil(F.lit(t_pref) * F.col("n") - F.lit(1e-9)).cast("int")
        + F.lit(1),
    )
    return base.select(
        "doc_id",
        "bucket",
        "n",
        F.posexplode(F.slice(ordered, F.lit(1), plen)).alias("pos", "h"),
    )


_RTAB_CACHE: dict = {}


def _half_up_table(round_to: int, max_p: int, max_q: int):
    """round(p/q, round_to) for all 0 <= p <= max_p, 1 <= q <= max_q,
    replicating Spark's Round exactly: IEEE double division, then HALF_UP
    on the double's EXACT decimal expansion (java BigDecimal(double)
    .setScale == Python Decimal(float).quantize).  Needed because numpy's
    half-even round diverges on dyadic rationals (13/16 = 0.8125 rounds
    to 0.813 under HALF_UP, 0.812 under half-even)."""
    import numpy as np

    key = (round_to, max_p, max_q)
    tab = _RTAB_CACHE.get(key)
    if tab is None:
        from decimal import ROUND_HALF_UP, Decimal

        exp = Decimal(1).scaleb(-round_to)
        tab = np.empty((max_p + 1, max_q + 1), dtype="f8")
        tab[:, 0] = np.nan
        for q in range(1, max_q + 1):
            for p in range(max_p + 1):
                tab[p, q] = float(
                    Decimal(p / q).quantize(exp, rounding=ROUND_HALF_UP)
                )
        _RTAB_CACHE[key] = tab
    return tab


_POP16 = None


def _pop16():
    import numpy as np

    global _POP16
    if _POP16 is None:
        _POP16 = np.array(
            [bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8
        )
    return _POP16


def _dense_jaccard_pairs(
    base: DataFrame, vocab, min_jaccard: float, round_to: int | None,
    max_n: int,
) -> DataFrame:
    """Exact all-pairs jaccard per bucket over BITSET token masks — the
    fast path for tiny-vocabulary corpora (r8).

    The driver's documents corpus draws every doc from a 31-token total
    vocabulary, the pathological case for prefix filtering: candidate
    fan-out was ~4.7x the (genuinely huge) output and the candidate
    distinct alone shuffled 121M rows at sf1.0.  When the GLOBAL vocab
    fits a few machine words (the ``jaccard_dense_*`` gates bound the
    vocabulary, the tokens per doc and the bucket size), each doc's token
    set is a W-word bitmask and every pair's intersection is a vectorized
    AND+popcount — no inverted index, no candidate shuffle, no verify
    join.  Exactness: intersection
    popcounts are integers; jaccard = p/q in IEEE double (the same
    division Catalyst performs); HALF_UP rounding via the (p, q) lookup
    table (:func:`_half_up_table`), so emitted values AND threshold
    survivors are bit-identical to the ppjoin path (tests pin both paths
    equal, including a planted 13/16 dyadic midpoint)."""
    import numpy as np

    vocab_arr = np.sort(np.asarray(vocab, dtype="i8"))
    W = (len(vocab_arr) + 63) // 64
    thr = float(min_jaccard)
    it = base.schema["doc_id"].dataType.simpleString()
    out_schema = f"doc_a {it}, doc_b {it}, jaccard double"
    pop = _pop16()
    rtab = _half_up_table(round_to, max_n, 2 * max_n) if round_to is not None else None

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "jaccard": []}).astype(
                {"doc_a": "i8", "doc_b": "i8", "jaccard": "f8"}
            )
        ids = pdf["doc_id"].to_numpy(dtype="i8")
        sizes = pdf["n"].to_numpy(dtype="i8")
        masks = np.zeros((n, W), dtype=np.uint64)
        one = np.uint64(1)
        for i, hs in enumerate(pdf["hs"]):
            idx = np.searchsorted(vocab_arr, np.asarray(hs, dtype="i8"))
            np.bitwise_or.at(
                masks[i], idx >> 6, one << (idx & 63).astype(np.uint64)
            )

        def jaccards(lo, hi):
            inter_and = masks[lo:hi, None, :] & masks[None, :, :]
            u16 = inter_and.view(np.uint16).reshape(hi - lo, n, W * 4)
            p = pop[u16].sum(axis=2, dtype=np.int64)
            q = sizes[lo:hi, None] + sizes[None, :] - p
            return rtab[p, q] if rtab is not None else p.astype("f8") / q.astype("f8")

        a, b, j = pairs.upper_pairs(
            ids, jaccards, lambda J: J >= thr, max(1, (2 << 20) // n)
        )
        return pd.DataFrame({"doc_a": a, "doc_b": b, "jaccard": j})

    # explicit REPARTITION_BY_NUM on the group key: the input shuffle is
    # tiny (the doc relation), so AQE would coalesce it to 1-2 tasks —
    # running every bucket serially AND leaving the (much larger) pair
    # output in 1-2 partitions for every downstream consumer.  An
    # explicitly-numbered repartition is exempt from AQE coalescing and
    # is reused by the groupBy (guide §2.4).
    par = base.sparkSession.sparkContext.defaultParallelism
    return (
        base.repartition(par, "bucket")
        .groupBy("bucket")
        .applyInPandas(_bucket_pairs, schema=out_schema)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    bucket_col: str = "source",
    min_jaccard: float = 0.5,
    lowercase: bool = True,
    split_pattern: str = r"\s+",
    round_to: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard via a PREFIX-FILTERED inverted-index join.

    Prefix filtering (Bayardo et al. WWW'07 / ppjoin): order every doc's
    distinct tokens by a fixed global order; if J(A, B) >= t then the
    first ``|A| - ceil(t*|A|) + 1`` tokens of A (its *prefix*) must share
    a token with B's prefix.  So the inverted index only contains prefix
    tokens — a ``1 - t`` fraction of each doc — and the result set is
    still provably identical to the all-pairs formulation.  Candidates
    are then verified exactly against the full token sets.

    The global order is (is_hot, token_hash) with the heavy hitters
    (document frequency over the ``jaccard_key_fanout`` cap) forced LAST
    (see :func:`_hot_hashes`, :func:`_prefix_index`), so an
    ultra-frequent token (stopword) almost never enters the index and
    every cold key's fan-out is within that cap: hot-token skew on the (bucket, token) shuffle key is
    bounded by construction, the lever the plain inverted index lacked at
    web scale.  A length filter (t*|A| <= |B| <= |A|/t, implied by
    J >= t) prunes the join further.  Tokens travel as xxhash64 longs
    end-to-end (see :func:`_token_base`).

    Tiny-vocabulary corpora take the exact dense bitset path instead
    (:func:`_dense_jaccard_pairs`) when they pass the ``jaccard_dense_*``
    gates.

    ``round_to`` reproduces serving formulations that threshold on a
    rounded jaccard; the prefix threshold is relaxed by half an ulp of
    the rounding so borderline pairs are never lost."""
    assert min_jaccard > 0, "inverted index cannot emit zero-overlap pairs"
    t = float(min_jaccard)
    # pairs at jaccard >= t - 0.5*10^-round_to can round up to >= t
    t_pref = t - (0.5 * 10.0 ** -round_to) if round_to is not None else t
    # materialized ONCE: feeds the prefix index and both verify sides —
    # unpersisted, the tokenize/split subtree would re-execute 3x
    base = _token_base(docs, bucket_col, lowercase, split_pattern).localCheckpoint(
        eager=True
    )
    # r8 adaptive fast path (see _dense_jaccard_pairs): corpora whose
    # GLOBAL vocabulary fits a few machine words defeat prefix filtering
    # (every prefix token is shared corpus-wide), but admit exact bitset
    # all-pairs per bucket.  The gates are measured relation properties
    # (max tokens/doc, distinct tokens, docs per bucket), each a cheap
    # aggregation over the materialized checkpoint; any real web-scale
    # corpus fails the vocab probe immediately and keeps the ppjoin index.
    mx = base.agg(F.max("n")).collect()[0][0] or 0
    if mx > 0 and gates.fits("jaccard_dense_doc_tokens", mx):
        vocab = gates.collect_upto(
            base.select(F.explode("hs").alias("h")).distinct(), "jaccard_dense_vocab"
        )
        if vocab is not None:
            bmax = (
                base.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
                or 0
            )
            if gates.fits("jaccard_dense_bucket_docs", bmax):
                return _dense_jaccard_pairs(
                    base, vocab["h"], min_jaccard, round_to, int(mx)
                )
    inv = _prefix_index(base, t_pref, hot=_hot_hashes(base))
    # ppjoin positional filter: overlap(A, B) >= ceil(t/(1+t)*(|A|+|B|))
    # is implied by J >= t; for the FIRST common prefix token (positions
    # i_x, i_y in the global order) no common token precedes it, so
    # overlap <= 1 + min(|A|-i_x-1, |B|-i_y-1).  A qualifying pair always
    # survives via that first-common-token row (any-row semantics), so
    # pruning rows whose upper bound misses the required overlap is
    # EXACT — it only drops duplicate/false-positive candidate rows
    # before the distinct and the verify join ever see them.
    min_overlap = F.ceil(
        F.lit(t_pref) / F.lit(1.0 + t_pref) * (F.col("x.n") + F.col("y.n"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("x.n") - F.col("x.pos") - F.lit(1),
        F.col("y.n") - F.col("y.pos") - F.lit(1),
    )
    cand = pairs.self_join(
        inv, ("bucket", "h"),
        on=(
            F.col("y.n") >= F.lit(t_pref) * F.col("x.n") - F.lit(1e-9),
            F.col("x.n") >= F.lit(t_pref) * F.col("y.n") - F.lit(1e-9),
            ubound >= min_overlap,
        ),
    ).distinct()
    a = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
    )
    # r8: broadcast the token-set side of the verify when it fits — the
    # candidate relation is orders of magnitude larger than the doc
    # relation (121M raw / 40M distinct candidates vs 50k docs at sf1.0),
    # and a sort-merge join would sort the candidates WITH array payloads
    # attached.  AQE usually rewrites this at runtime; making it explicit
    # removes the dependence on size estimates (guide §3.1).  Gated on
    # the materialized doc count so corpus-scale inputs keep the shuffle
    # join.
    if gates.fits("jaccard_broadcast_docs", base.count()):
        a, b = F.broadcast(a), F.broadcast(b)
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    if round_to is not None:
        jac = F.round(jac, round_to)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", inter)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


# ----------------------------------------------------------- decontam/split --

def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    shingle_k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-decontamination scan: exact word-``shingle_k``-gram
    overlap between a TRAINING corpus and an EVALUATION set (the GPT-3 /
    PaLM recipe — k around 8-13 so only verbatim spans count, never topic
    similarity).  Returns (test_doc, train_doc, n_shared) with
    ``n_shared`` distinct shared shingles >= ``min_shared``.

    Shape: both sides explode distinct shingles HASHED to longs
    (xxhash64 — the join key never carries strings) and equi-join on the
    hash; shingle cardinality scales with corpus size, so no hot keys,
    and the train side is O(corpus tokens) — one pass, one shuffle.
    Collision risk 2^-64 per shingle pair (false share), negligible."""
    def side(df, out):
        return df.select(
            F.col("doc_id").alias(out),
            F.explode(
                F.array_distinct(
                    F.transform(
                        _shingles_col(F.col("text"), shingle_k),
                        lambda sh: F.xxhash64(sh),
                    )
                )
            ).alias("h"),
        )

    par = train.sparkSession.sparkContext.defaultParallelism
    tr = side(train.repartition(par), "train_doc")
    # r8: spread the TEST side too — the interpreted shingle+hash chain
    # ran in ONE task on the single-row-group scan (measured 12.8 s of
    # the query's 14.7 at sf1.0)
    te = side(test.repartition(par), "test_doc")
    return (
        te.join(tr, "h")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _md5_bucket(salt: str, id_col: str):
    """The engine-portable split key: the first 8 hex chars of
    md5(salt || ':' || id) as a uniform 32-bit integer."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def train_test_split(
    docs: DataFrame,
    test_frac: float = 0.1,
    salt: str = "split0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic, engine-portable train/test split: a doc lands in
    the test set iff the first 8 hex chars of md5(salt || id) — a uniform
    32-bit integer — fall below ``test_frac`` of the range.  Stable under
    corpus growth (membership depends only on (salt, id), never on
    ordering or partitioning), reproducible by ANY engine with md5 (the
    oracle twin), re-splittable by changing ``salt``.  Adds a boolean
    ``is_test`` column.  (In-engine, xxhash64 would be cheaper; md5 is
    kept so the split definition is portable to non-Spark consumers.)"""
    return docs.withColumn(
        "is_test", _md5_bucket(salt, id_col) < F.lit(int(test_frac * float(1 << 32)))
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    default_frac: float = 0.0,
    salt: str = "sample0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group downsampling — the language-rebalancing
    stage of a corpus mix (e.g. keep 10% of English, 100% of low-resource
    languages).  Same engine-portable md5 bucket as
    :func:`train_test_split` (membership depends only on (salt, id):
    stable under corpus growth, repartitioning, and re-runs; any engine
    with md5 reproduces it), compared against a PER-GROUP threshold via
    an in-plan literal map (tiny: one entry per group).  Groups absent
    from ``fractions`` fall back to ``default_frac``.  Pure column
    algebra: a narrow filter over the scan, no shuffle, no UDF."""
    entries: list = []
    for g, frac in sorted(fractions.items()):
        entries += [F.lit(g), F.lit(int(frac * float(1 << 32)))]
    thresh = F.coalesce(
        F.create_map(*entries)[F.col(group_col)],
        F.lit(int(default_frac * float(1 << 32))),
    )
    return docs.filter(_md5_bucket(salt, id_col) < thresh)


# ---------------------------------------------------------------- analysis --

def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + regex-word count + char count, all JVM-side."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))).alias(
            "word_tokens"
        ),
        F.length("text").alias("chars"),
    )


def paragraph_dedup(
    docs: DataFrame,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document paragraph-level exact dedup, global first-wins —
    the C4 / RefinedWeb line-dedup stage: a paragraph survives only at
    its FIRST occurrence in the corpus (min doc_id, then min position;
    later copies are dropped everywhere, including later positions of
    the same doc).  Returns (doc_id, text, n_paras, n_kept) with the
    surviving paragraphs rejoined in original order (empty paragraphs
    are dropped up front; a fully-deduplicated doc keeps a row with
    empty text — the quality filter downstream sees n_kept=0).  Docs
    whose paragraphs are ALL empty (separator-only / empty text) also
    keep an output row (text='', n_paras=0, n_kept=0): no row loss, so
    downstream doc accounting stays exact.

    Scale shape: one shuffle keyed by paragraph (the first-occurrence
    window — key cardinality is the distinct-paragraph count, which
    grows sublinearly in a duplicate-heavy crawl) and one shuffle back
    on doc_id to reassemble; no UDF, no driver state.  (At extreme
    paragraph sizes, hash the paragraph first and verify — here the
    window keys the raw string, which is exact.)"""
    from pyspark.sql import Window

    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).filter(F.length("para") > 0)
    w = Window.partitionBy("para").orderBy(id_col, "pos")
    flagged = paras.withColumn(
        "is_first", F.row_number().over(w) == 1
    )
    agg = flagged.groupBy(id_col).agg(
        F.count("*").alias("n_paras"),
        F.sum(F.col("is_first").cast("long")).alias("n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        # when() without otherwise() -> null for
                        # dropped copies; collect_list skips nulls
                        F.when(
                            F.col("is_first"), F.struct("pos", "para")
                        )
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias(text_col),
    )
    # Left-join back onto the doc set: a doc whose paragraphs were all
    # empty has no row in `agg` (every row was filtered pre-window) and
    # would otherwise vanish from the output entirely.
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce("n_paras", F.lit(0).cast("long")).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        )
    )


# PII patterns restricted to syntax with IDENTICAL semantics in Java
# regex (Spark) and RE2 (the DuckDB oracle): char classes, bounded
# repetition, no backrefs/lookaround.  Order matters for the sequential
# scrub: none of these can match inside another's replacement token.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("phone", r"\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
)


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII (emails, IPv4s, phone-shaped numbers) and count matches
    — the scrubbing stage every training-data pipeline runs before
    publishing a corpus.

    Per-pattern match counts are computed on the ORIGINAL text (so counts
    are independent of scrub order), then the replacements apply
    sequentially.  Pure JVM column algebra (``regexp_count`` /
    ``regexp_replace``): no UDF, no shuffle — at 100 TB this is a narrow
    map over the corpus scan, whole-stage-codegen'd."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    scrubbed = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    out = docs.select(
        id_col,
        scrubbed.alias(text_col),
        *counts,
    )
    total = sum((F.col(f"n_{name}") for name, _, _ in PII_PATTERNS), F.lit(0))
    return out.withColumn("has_pii", total > 0)


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + combined score (pure column algebra)."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    stop = F.array([F.lit(w) for w in STOPWORDS])
    stop_ratio = F.size(F.array_intersect(F.array_distinct(toks), stop)) / F.greatest(
        F.size(F.array_distinct(toks)), F.lit(1)
    )
    mean_word_len = (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))) / n
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(
            F.least(n / 100.0, F.lit(1.0)) * distinct_ratio, 4
        ).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Toy char-frequency language heuristic (deterministic, SQL-parity):
    ranks a few letter frequencies — stands in for an n-gram LID model.
    Returns (doc_id, lang, predicted)."""
    t = F.lower(F.col("text"))

    def freq(ch):
        return (F.length(t) - F.length(F.regexp_replace(t, ch, ""))) / F.length(t)

    e, a, o, i_, n = freq("e"), freq("a"), freq("o"), freq("i"), freq("n")
    predicted = (
        F.when((e > a) & (e > o), F.lit("en"))
        .when((a > o) & (a > i_), F.lit("es"))
        .when(o > n, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return docs.select("doc_id", "lang", predicted.alias("predicted"))


def _char_grams(text_col, gram_n: int, max_chars: int):
    """All overlapping character n-grams (with repetition) of the first
    ``max_chars`` chars — an array column, JVM-side."""
    t = F.lower(F.substring(text_col, 1, max_chars))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (gram_n - 1), F.lit(1))),
        lambda i: F.substr(t, i, F.lit(gram_n)),
    )


def lang_ngram_profiles(
    docs: DataFrame,
    gram_n: int = 3,
    top_k: int = 300,
    max_chars: int = 400,
    text_col: str = "text",
    lang_col: str = "lang",
):
    """Learn char-n-gram language profiles from a labeled corpus — the
    fastText-style statistical model behind :func:`lang_id_ngram`, as two
    small DataFrames:

    - profiles: (lang, gram, logp) — the ``top_k`` most frequent n-grams
      per language with add-one-smoothed log probability
      ``ln((cnt + 1) / (tot + top_k + 1))``
    - floors:   (lang, floor) — the unseen-gram penalty
      ``ln(1 / (tot + top_k + 1))``

    Everything is deterministic (ties broken count desc, gram asc) so the
    same profiles are learnable by any engine — the oracle-SQL twin
    re-derives them in DuckDB.  One aggregation over the training grams;
    profiles are tiny (langs x top_k) and broadcast at classify time."""
    # r8: gram COUNTS come from a vectorized Arrow pass — the
    # transform/substr gram constructor is a CodegenFallback HOF
    # (interpreted per gram: ~20M evaluations at sf1.0), and the raw
    # 20M-row explode fed the (lang, gram) aggregation; here the lowered
    # prefix is cut JVM-side (lower/substring semantics unchanged),
    # Python slices the overlapping windows and emits PARTIAL counts per
    # batch, so only ~|langs x grams| rows reach the final sum.  Counts
    # are exact integers — profiles identical.
    par = docs.sparkSession.sparkContext.defaultParallelism
    lowered = docs.repartition(par).select(
        F.col(lang_col).alias("lang"),
        F.lower(F.substring(F.col(text_col), 1, max_chars)).alias("tx"),
    )

    def _count_batches(it):
        from collections import Counter

        for pdf in it:
            c: Counter = Counter()
            for lang, tx in zip(pdf["lang"], pdf["tx"]):
                if tx is None:
                    continue
                m = max(len(tx) - (gram_n - 1), 1)
                c.update((lang, tx[i : i + gram_n]) for i in range(m))
            if c:
                yield pd.DataFrame(
                    {
                        "lang": [k[0] for k in c],
                        "gram": [k[1] for k in c],
                        "pc": list(c.values()),
                    }
                )

    cnt = (
        lowered.mapInPandas(_count_batches, "lang string, gram string, pc long")
        .groupBy("lang", "gram")
        .agg(F.sum("pc").alias("cnt"))
    )
    tot = cnt.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("gram"))
    profiles = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .join(tot, "lang")
        .select(
            "lang",
            "gram",
            F.log((F.col("cnt") + 1) / (F.col("tot") + top_k + 1)).alias("logp"),
        )
    )
    floors = tot.select(
        "lang", F.log(1.0 / (F.col("tot") + top_k + 1)).alias("floor")
    )
    return profiles, floors


def lang_id_ngram(
    docs: DataFrame,
    profiles: DataFrame | None = None,
    floors: DataFrame | None = None,
    gram_n: int = 3,
    top_k: int = 300,
    max_chars: int = 400,
    round_to: int = 4,
) -> DataFrame:
    """Char-n-gram naive-Bayes language ID (the real replacement for the
    :func:`lang_id` letter-frequency toy): score(doc, lang) = sum over the
    doc's char n-grams of the language's smoothed log probability (unseen
    grams pay the floor penalty); predict the argmax.

    ``profiles``/``floors`` default to self-training on the input's own
    labels via :func:`lang_ngram_profiles` — pass profiles learned from a
    held-out labeled set for honest evaluation (see the accuracy test).

    Shape at scale: doc grams explode once, cross the (tiny) lang list,
    left-join the broadcast profile, one (doc, lang) aggregation, then a
    max_by argmax — no Python, no window over a giant partition.  Scores
    are rounded before the argmax so the cross-engine tie-break
    (score desc, lang asc) is stable under float-sum reordering.
    Returns (doc_id, lang, predicted)."""
    if profiles is None or floors is None:
        profiles, floors = lang_ngram_profiles(
            docs, gram_n=gram_n, top_k=top_k, max_chars=max_chars
        )
    # r8: the model is TINY (|langs| x top_k logps + floors) — collect it
    # once and score inside one vectorized Arrow pass instead of the
    # grams x langs crossJoin (100M rows at sf1.0) + left join + giant
    # aggregation (57 s -> ~2 s).  Scoring semantics unchanged: per
    # (doc, lang), sum of logp/floor over the doc's grams, HALF_UP-rounded
    # to ``round_to`` (python Decimal == Spark Round on doubles), argmax
    # with the (score desc, lang asc) tie-break on the ROUNDED scores —
    # which is exactly why the rounding exists: it absorbs float-sum
    # reordering between engines (and between this pass and the old
    # aggregation's shuffle order).
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    prof_rows = profiles.collect()
    floor_rows = floors.collect()
    langs = sorted(r["lang"] for r in floor_rows)
    lidx = {l: i for i, l in enumerate(langs)}
    floor_vec = np.zeros(len(langs))
    for r in floor_rows:
        floor_vec[lidx[r["lang"]]] = r["floor"]
    table: dict = {}
    for r in prof_rows:
        vec = table.get(r["gram"])
        if vec is None:
            vec = floor_vec.copy()
            table[r["gram"]] = vec
        vec[lidx[r["lang"]]] = r["logp"]
    exp = Decimal(1).scaleb(-round_to)
    langs_arr = np.asarray(langs, dtype=object)

    par = docs.sparkSession.sparkContext.defaultParallelism
    lowered = docs.repartition(par).select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.lower(F.substring(F.col("text"), 1, max_chars)).alias("tx"),
    )

    def _score_batches(it):
        for pdf in it:
            preds = []
            for tx in pdf["tx"]:
                if tx is None:
                    preds.append(None)
                    continue
                m = max(len(tx) - (gram_n - 1), 1)
                acc = np.zeros(len(langs))
                for i in range(m):
                    acc = acc + table.get(tx[i : i + gram_n], floor_vec)
                rounded = [
                    float(Decimal(s).quantize(exp, rounding=ROUND_HALF_UP))
                    for s in acc.tolist()
                ]
                # first max over langs sorted asc == (score desc, lang asc)
                preds.append(langs_arr[int(np.argmax(rounded))])
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang_true"],
                    "predicted": preds,
                }
            )
            yield out[out["predicted"].notna()]

    return lowered.mapInPandas(
        _score_batches, "doc_id long, lang string, predicted string"
    )
