"""Deduplication operators for web-scale document tables.

Four families, all shuffle-conscious:

* **exact** — hash-groupBy on ``xxhash64(text)``; map-side partial
  ``min(doc_id)`` keeps the shuffle at one row per distinct hash.
* **MinHash + LSH** — word-shingle hashes → P permutations of minhash
  (pure ``aggregate``/``transform`` array expressions, no UDF) → bands of
  R rows hashed to buckets → self-join per bucket → candidate pairs →
  exact Jaccard verify. The only shuffle keys are (band, bucket) — bounded
  by construction; identical docs collide in every band.
* **SimHash** — 64-bit signature from per-token hash bit votes (one
  pure-Catalyst ``aggregate`` carrying a 64-vote accumulator) → near-dups
  = signatures at Hamming distance ≤ d found by 4-way table splits.
* **n-gram Jaccard** — direct pairwise verify for candidate pairs.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(hash, n_copies, keep_id) per duplicated text — one groupBy, partial
    count/min map-side."""
    return (
        df.select(fingerprint(text_col).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: Column | None = None,
) -> DataFrame:
    """Keep the min-id representative of each distinct text.

    ``row_number`` over the hash (single shuffle) rather than a self-join;
    AQE handles hash skew (a viral duplicated page = one hot key) and the
    window sorts only within each hash group.

    ``key`` overrides the dedup key expression (default: xxhash64 of the
    raw text) — e.g. ``normalized_fingerprint(text_col)`` collapses
    case/punctuation/digit variants of the same page
    (``functions.normalize``, the CCNet rule).  A key expression keeps
    the whole thing one window shuffle: the key computes map-side.
    """
    win = Window.partitionBy(
        key if key is not None else fingerprint(text_col)
    ).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(win)).filter(F.col("__rn") == 1).drop("__rn")


def duplicate_paragraph_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_count: int = 2,
) -> DataFrame:
    """(paragraph, n_occurrences) for every paragraph appearing at least
    ``min_count`` times corpus-wide — the survey pass of C4-style
    paragraph dedup (boilerplate footers/navigation dominate the top).
    One explode + one map-side-combined groupBy on the paragraph hash;
    ``sep`` is a Java regex (default: newline)."""
    paras = df.select(
        F.explode(F.split(F.col(text_col), sep)).alias("para")
    ).filter(F.col("para") != "")
    return (
        paras.groupBy(F.xxhash64("para").alias("para_hash"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"), F.first("para").alias("paragraph"))
        .filter(F.col("n_occurrences") >= min_count)
        .select("paragraph", "para_hash", "n_occurrences")
    )


def drop_duplicate_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_count: int = 2,
    output_col: str = "text_clean",
    join_sep: str | None = None,
) -> DataFrame:
    """C4-style corpus-level paragraph dedup: remove every paragraph that
    occurs ≥ ``min_count`` times across the corpus, preserving the order
    of the survivors, and attach the result as ``output_col`` (the stored
    ``text_col`` is never rewritten — the byte-identity invariant).

    Spec: the text splits on ``sep`` (a Java regex; default newline);
    empty segments are dropped; a paragraph's occurrence count is global
    (a doc repeating its own paragraph counts each time); ALL occurrences
    of a hot paragraph are removed; survivors re-join with ``join_sep``
    (default: newline — pass it explicitly when ``sep`` is a non-literal
    regex).

    Physical shape (the 100 TB path): posexplode (no shuffle) → window
    count over the paragraph *hash* (ONE shuffle; same xxhash64-window
    family as :func:`dedup_exact`, AQE-splittable on viral boilerplate;
    64-bit collisions can only over-delete a colliding paragraph) →
    filter → groupBy doc reconstruct via ``array_sort(collect_list
    (struct(pos, para)))`` (second shuffle, map-side combinable) → one
    equi-join back to the full rows so paragraph-free docs keep an empty
    string.  No Python anywhere; three exchanges total.
    """
    pos_para = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).filter(F.col("para") != "")
    win = Window.partitionBy(F.xxhash64("para"))
    kept = pos_para.withColumn("__n", F.count(F.lit(1)).over(win)).filter(
        F.col("__n") < min_count
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            join_sep if join_sep is not None else "\n",
        ).alias(output_col)
    )
    return df.join(rebuilt, on=id_col, how="left").withColumn(
        output_col, F.coalesce(F.col(output_col), F.lit(""))
    )


#: engine-portable sentence pattern (Java-regex ∩ RE2 ∩ Python): a
#: maximal run of non-terminal characters closed by one-or-more terminal
#: marks.  Text after the last terminal mark is not a sentence.
_SENTENCE_RE = r"[^.!?]+[.!?]+"


def sentence_array(text: Column | str = "text") -> Column:
    """The document's sentences as an ``array<string>`` projection:
    ``regexp_extract_all`` of :data:`_SENTENCE_RE`, each sentence
    trimmed.  NULL text → NULL; no terminal punctuation → empty array.
    The exact spec :func:`drop_duplicate_spans`'s DuckDB oracle replays.
    """
    text = F.col(text) if isinstance(text, str) else text
    # NB: a bare F.trim here would receive transform's (element, index)
    # pair and silently hit trim's deprecated two-arg form
    return F.transform(
        F.regexp_extract_all(text, F.lit(_SENTENCE_RE), 0), lambda s: F.trim(s)
    )


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    output_col: str = "text_spandedup",
) -> DataFrame:
    """C4's corpus-level span dedup (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span occurring more than
    once"): for every *n*-sentence window that appears ≥2 times across
    the corpus, keep exactly the first occurrence (smallest
    ``(id, position)``) and remove the sentences of every other
    occurrence; the surviving sentences re-join with a single space into
    ``output_col`` (the stored ``text_col`` is never rewritten — the
    byte-identity invariant; output is whitespace-normalized at sentence
    boundaries by construction).

    Semantics pinned by the oracle: sentences come from
    :func:`sentence_array`; spans overlap (positions i..i+n-1 for every
    i); a sentence inside ANY losing span is removed even when it also
    belongs to a kept span (the standard greedy rule of the public C4
    pipeline); docs with fewer than *n* sentences are untouched; text
    after the last terminal mark is dropped by the sentence split.

    Physical shape (the 100 TB path): the span key is ``xxhash64`` of
    the joined window (64-bit — the shuffle never carries sentence
    bodies; a collision can only over-delete, the same contract as
    :func:`dedup_exact`), built from a let-bound sentence array as a
    zero-shuffle slice/transform projection.  One window over the span
    hash picks winners (ONE shuffle, AQE-splittable on viral
    boilerplate); losers explode to (id, sentence-pos) removal marks; an
    anti-join drops marked sentences; one groupBy rebuilds survivor
    order; one left join reattaches paragraph-free docs.  Zero Python.
    """
    id_, txt = F.col(id_col), F.col(text_col)
    sents = df.select(id_, sentence_array(txt).alias("__sents"))

    # span hashes from a let-bound sentence array: span i = sentences
    # [i, i+n) — a slice/transform chain, no explode-then-window needed
    def _spans(e: Column) -> Column:
        arr = e["s"]
        m = F.greatest(F.size(arr) - F.lit(n - 1), F.lit(0))
        # sequence(1, 0) would COUNT DOWN ([1, 0]) — guard the no-span case
        return F.when(m < 1, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(arr, i, n))),
            )
        )

    spans = sents.select(
        id_,
        F.col("__sents"),
        F.element_at(
            F.transform(F.arrays_zip(F.array("__sents").alias("s")), _spans), 1
        ).alias("__span_hashes"),
    )
    occ = spans.select(
        id_, F.posexplode("__span_hashes").alias("spos", "h")
    )
    win = Window.partitionBy("h")
    losers = (
        occ.withColumn("__cnt", F.count(F.lit(1)).over(win))
        .withColumn("__first", F.min(F.struct(id_, F.col("spos"))).over(win))
        .filter(
            (F.col("__cnt") >= 2)
            & ~((F.col("__first")[id_col] == id_) & (F.col("__first")["spos"] == F.col("spos")))
        )
    )
    removals = losers.select(
        id_, F.explode(F.sequence(F.col("spos"), F.col("spos") + F.lit(n - 1))).alias("pos")
    )
    kept = (
        sents.select(id_, F.posexplode("__sents").alias("pos", "sent"))
        .join(removals, on=[id_col, "pos"], how="left_anti")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                lambda s: s["sent"],
            ),
            " ",
        ).alias(output_col)
    )
    return df.join(rebuilt, on=id_col, how="left").withColumn(
        output_col, F.coalesce(F.col(output_col), F.lit(""))
    )


# ---------------------------------------------------------------------------
# MinHash / LSH
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: (a·x + b) mod p stays under 2^62, so the universal
# hash never overflows a signed long (ANSI mode errors on overflow).
_MINHASH_PRIME = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int, seed: int) -> list:
    """The (a_i, b_i) universal-hash coefficients — ONE derivation shared
    by the Catalyst and Arrow engines so their signatures are identical by
    construction (draw order matters: a then b, per permutation)."""
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MINHASH_PRIME)), int(rng.randint(0, _MINHASH_PRIME)))
        for _ in range(num_hashes)
    ]


def minhash_udf(num_hashes: int = 64, seed: int = 7):
    """Arrow-batched vectorized minhash — the crawl-scale engine.

    Returns a ``pandas_udf(array<bigint> shingle hashes) -> array<bigint>``
    computing EXACTLY :func:`minhash_signature`'s values: same (a, b)
    coefficients (shared derivation), same ``(a·(h mod p) + b) mod p``
    arithmetic — all terms < 2^62 so int64 is exact — same null for
    empty/null shingle arrays.  Per document the (T × num_hashes) matrix
    is two vectorized int64 ops + a column min; measured ~30× the
    interpreted-Catalyst aggregate on ~6 kchar documents.  Shingle
    hashing itself stays JVM-side (xxhash64 has no NumPy equivalent), so
    callers pass the :func:`~verde_spark.functions.text.shingles`
    expression as the UDF argument.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    coeffs = _minhash_coeffs(num_hashes, seed)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)
    p = _MINHASH_PRIME

    def one(h):
        if h is None or len(h) == 0:
            return None
        hv = np.mod(np.asarray(h, dtype=np.int64), p)  # pmod: sign of divisor
        vals = (hv[:, None] * a_vec[None, :] + b_vec[None, :]) % p
        return vals.min(axis=0).tolist()  # every val < p = the Catalyst init

    @pandas_udf(ArrayType(LongType()))
    def _minhash(shingle_arrays):
        return shingle_arrays.map(one)

    return _minhash


def simhash_udf():
    """Arrow-batched vectorized simhash: ``pandas_udf(array<bigint> token
    hashes) -> bigint`` with EXACTLY :func:`simhash_signatures`'s
    semantics — per bit b, vote +1 if the token hash has bit b set else
    -1; signature = OR of ``1 << b`` where votes > 0 (0 for empty arrays,
    null for null).  Token hashing stays JVM-side (xxhash64)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    shifts = np.arange(64, dtype=np.uint64)

    def one(h):
        if h is None:
            return None
        hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
        if hv.size == 0:
            return 0
        bits = ((hv[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sig = 0
        for b in range(64):
            if votes[b] > 0:
                sig |= 1 << b
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    @pandas_udf(LongType())
    def _simhash(token_hash_arrays):
        return token_hash_arrays.map(one)

    return _simhash


def minhash_signature(
    shingle_col: Column | str, num_hashes: int = 64, seed: int = 7
) -> Column:
    """Array of *num_hashes* minhash values from a shingle-hash array.

    ONE ``aggregate`` over the shingle array carries a *num_hashes*-element
    running-minimum accumulator; per shingle, ``zip_with`` against the
    literal (a_i, b_i) coefficient arrays updates every permutation's min
    in a single traversal.  Bit-identical to the round-1 formulation
    (``num_hashes`` separate ``array_min(transform(...))`` expressions =
    64 traversals per row) and measured ~24× faster (52.6 s → 2.2 s warm
    on 1k docs).  Empty shingle arrays yield nulls (docs too short to
    compare); a non-empty array's accumulator always beats the M sentinel
    because every universal-hash value is < M.
    """
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    coeffs = _minhash_coeffs(num_hashes, seed)
    ab = F.arrays_zip(
        F.array(*[F.lit(a).cast("long") for a, _ in coeffs]).alias("a"),
        F.array(*[F.lit(b).cast("long") for _, b in coeffs]).alias("b"),
    )
    m = F.lit(_MINHASH_PRIME)

    # let-bind the shingle array: it is referenced twice (the aggregate
    # traversal and the size() empty-guard), and interpreted Catalyst has
    # no CSE, so an unbound expensive shingle expression would be fully
    # evaluated twice per row
    def _mh(s: Column) -> Column:
        mins = F.aggregate(
            s,
            F.array_repeat(F.lit(_MINHASH_PRIME).cast("long"), num_hashes),
            lambda acc, h: F.zip_with(
                acc, ab, lambda cur, c: F.least(cur, F.pmod(c["a"] * F.pmod(h, m) + c["b"], m))
            ),
        )
        return F.when(F.size(s) > 0, mins)

    return F.element_at(F.transform(F.array(sh), _mh), 1)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 7,
    engine: str = "catalyst",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    Signature → ``bands`` slices of ``num_hashes/bands`` rows; each slice
    hashes to a bucket key; a self-join **per (band, bucket)** finds pairs.
    The join is an equi-join on (band, bucket) — never a global cartesian
    — and pairs colliding in several bands are deduplicated by distinct.

    ``engine="arrow"`` swaps the interpreted-Catalyst signature aggregate
    for the bit-identical vectorized :func:`minhash_udf` (~30× on long
    documents); shingle hashing and everything downstream are unchanged.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    if engine == "arrow":
        sig_col = minhash_udf(num_hashes, seed)(shingles(text_col, shingle_size))
    elif engine == "catalyst":
        sig_col = minhash_signature(shingles(text_col, shingle_size), num_hashes, seed)
    else:
        raise ValueError(f"engine must be 'catalyst' or 'arrow', got {engine!r}")
    sig = df.select(F.col(id_col), sig_col.alias("sig")).filter(
        F.col("sig").isNotNull()
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: two broadcast-eligible
    joins to attach shingle sets, then pure array intersection math."""
    sh = df.select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_size)).alias("sh")
    )
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    base: int = 257,
    engine: str = "catalyst",
) -> DataFrame:
    """(id, fp) — the winnowing fingerprint set of each document
    (Schleimer, Wilkerson & Aiken, SIGMOD'03; the MOSS algorithm).

    Character k-gram rolling hashes → min-of-each-``w``-window selection →
    distinct selected hashes, exploded one row per fingerprint.  Any two
    documents sharing a substring of ``≥ w + k - 1`` characters share at
    least one fingerprint, so partial/contained copies are caught — the
    complement of whole-document ``fingerprint()`` exact dedup.

    Scale shape: narrow projections + a ``Generate`` (explode) — zero
    shuffles; fingerprinting is embarrassingly parallel over the corpus.
    :func:`verde_spark.functions.text.winnow_select` let-binds the gram
    array so it is materialized once per row even after CollapseProject
    inlines the projections (the alternative is O(m²·k) per document).

    ``engine``: ``"catalyst"`` (default) is pure JVM expressions — zero
    Python workers, DuckDB-replayable — but higher-order functions run
    interpreted (~µs per gram).  ``"arrow"`` computes bit-identical
    fingerprints in vectorized NumPy over Arrow batches
    (:func:`verde_spark.functions.text.winnow_udf`), measured ~30× the
    per-character throughput on ~6 kchar docs — the setting for a real
    crawl corpus.
    """
    from ..functions.text import kgram_hashes, winnow_select, winnow_udf

    if engine == "arrow":
        fps = winnow_udf(k=k, w=w, base=base)(F.col(text_col))
        return df.select(F.col(id_col), F.explode(fps).alias("fp"))
    if engine != "catalyst":
        raise ValueError(f"engine must be 'catalyst' or 'arrow', got {engine!r}")
    grams = df.select(
        F.col(id_col), kgram_hashes(text_col, k=k, base=base).alias("__kg")
    )
    sel = grams.select(F.col(id_col), winnow_select("__kg", w=w).alias("__fps"))
    return sel.select(F.col(id_col), F.explode("__fps").alias("fp"))


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    base: int = 257,
    min_shared: int = 1,
    min_containment: float = 0.0,
    max_df: int | None = None,
    engine: str = "catalyst",
) -> DataFrame:
    """(id_a, id_b, n_shared, containment) candidate near-duplicate pairs:
    documents sharing ``≥ min_shared`` winnowing fingerprints with
    ``containment = n_shared / min(|fps_a|, |fps_b|) ≥ min_containment``.

    Containment (not the raw count) is the discriminator: same-language
    corpora share many common-phrase fingerprints, so long unrelated
    documents can out-count short true copies — a copy/containment
    relation always has containment 1.0 regardless of length.  The
    per-document fingerprint cardinality rides through the explode as a
    precomputed ``size()`` column, so containment costs no extra join or
    shuffle beyond the pair groupBy.

    The only join is an equi-self-join on the fingerprint value — bounded
    buckets, never all-pairs.  ``max_df`` drops "stop fingerprints" that
    occur in more than *max_df* documents before the join (a fingerprint
    shared by f docs contributes O(f²) join rows, so boilerplate shared
    across a crawl — headers, footers, licence blocks — would otherwise
    dominate; standard document-frequency pruning, same role as minhash
    banding).  At 10^12 docs set ``max_df`` to a few hundred and the join
    fan-out is capped at ``max_df²`` per fingerprint with AQE skew-split
    handling the residue.  Cardinalities are pre-pruning, so with
    ``max_df`` set the containment of boilerplate-heavy pairs shrinks —
    the conservative direction.
    """
    from ..functions.text import kgram_hashes, winnow_select, winnow_udf

    if engine == "arrow":
        sel = df.select(
            F.col(id_col), winnow_udf(k=k, w=w, base=base)(F.col(text_col)).alias("__fps")
        )
    elif engine == "catalyst":
        grams = df.select(
            F.col(id_col), kgram_hashes(text_col, k=k, base=base).alias("__kg")
        )
        sel = grams.select(F.col(id_col), winnow_select("__kg", w=w).alias("__fps"))
    else:
        raise ValueError(f"engine must be 'catalyst' or 'arrow', got {engine!r}")
    fps = sel.select(
        F.col(id_col),
        F.size("__fps").alias("__nfp"),
        F.explode("__fps").alias("fp"),
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        fps = fps.join(keep, "fp", "left_semi")
    left, right = fps.alias("l"), fps.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first(F.col("l.__nfp")).alias("__na"),
            F.first(F.col("r.__nfp")).alias("__nb"),
        )
        .withColumn(
            "containment",
            F.col("n_shared").cast("double") / F.least("__na", "__nb").cast("double"),
        )
        .drop("__na", "__nb")
    )
    return pairs.filter(
        (F.col("n_shared") >= min_shared)
        & (F.col("containment") >= min_containment)
    )


def _component_drops(
    df: DataFrame, comp: DataFrame, id_col: str, keep_col: str | None
) -> DataFrame:
    """The ids to drop from *df* given component membership *comp*
    (columns ``id``, ``comp``): every member except the component's
    winner.  ``keep_col=None`` keeps the min-id member (== the component
    label, so no join at all); a column name keeps the member maximizing
    it — e.g. ``keep_col="quality"`` retains the best-quality copy
    instead of an arbitrary one (ties break to min id, so the choice is
    deterministic).  Shape: the membership table is tiny next to the
    corpus (only docs in a dup component appear), so the id-equi-join
    broadcasts it and the ranking window sorts only within components."""
    if keep_col is None:
        return comp.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    members = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(keep_col).alias("__k")),
        "id",
    )
    win = Window.partitionBy("comp").orderBy(
        F.col("__k").desc(), F.col("id").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") > 1)
        .select(F.col("id").alias(id_col))
    )


def dedup_winnow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_containment: float = 0.9,
    min_shared: int = 2,
    max_df: int | None = None,
    transitive: bool = True,
    engine: str = "catalyst",
    keep_col: str | None = None,
) -> DataFrame:
    """Drop winnow-fingerprint near-duplicates (containment ≥
    *min_containment*): pairs → connected components → keep one member
    of each component (min id by default; ``keep_col`` keeps the member
    maximizing that column — see :func:`_component_drops`).  Same keep
    policy as :func:`dedup_minhash`; ``transitive=False`` = cheaper
    single-link drop of every ``id_b``.  Catches contained/partial
    copies exact dedup and shingle-Jaccard both miss (a doc embedded
    inside a longer one has containment 1.0 but Jaccard ≪ 1)."""
    if keep_col is not None and not transitive:
        raise ValueError("keep_col requires transitive=True (components)")
    dups = winnow_pairs(
        df, id_col, text_col, k=k, w=w,
        min_shared=min_shared, min_containment=min_containment, max_df=max_df,
        engine=engine,
    )
    if transitive:
        to_drop = _component_drops(df, connected_components(dups), id_col, keep_col)
    else:
        to_drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_drop, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, component) for every node in *pairs*; component = min id reachable.

    Min-label propagation with pointer jumping (path halving): each round
    (a) takes the min label over a node's neighbors — one equi-join + one
    map-side-combined ``min`` agg — then (b) replaces each label with its
    label's label (``comp ← comp(comp)``), which halves chain depth, so an
    A~B~…~Z chain of length n converges in O(log n) rounds instead of
    O(n).  Per-round state is ``localCheckpoint``-materialized (cuts the
    exponentially growing lineage; blocks GC-managed, same pattern as
    ``knn_join``).  Convergence is detected by the monotone-decreasing
    label sum (labels only ever decrease, so an unchanged sum ⟺ a fixed
    point) — one scalar agg per round, no extra comparison join.

    At 100 TB the edge list (candidate duplicate pairs) is a tiny fraction
    of the corpus, and every step here is an equi-join on node id with
    AQE-skew-split eligibility; duplicate "families" (one viral page with
    millions of copies) become hot labels, which the min-agg absorbs
    map-side.
    """
    for c in (id_a, id_b):
        if pairs.schema[c].dataType.typeName() not in (
            "long", "integer", "short", "byte", "decimal"
        ):
            raise ValueError(
                f"connected_components needs numeric node ids; column {c!r} "
                f"is {pairs.schema[c].dataType.simpleString()} — hash string "
                "ids first (e.g. xxhash64)"
            )
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    spark = pairs.sparkSession
    # Adaptive small-graph path (same principle as AQE's runtime broadcast
    # conversion): dedup-pair graphs are typically minuscule relative to
    # the corpus. ONE job both sizes and fetches: limit(threshold+1) —
    # if everything fit, run union-find at the driver (identical
    # (id, comp=min reachable id) result) instead of O(log n) rounds of
    # ~6 distributed jobs each. driver_threshold=0 forces the loop.
    if driver_threshold > 0:
        probe = edges.limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            return _cc_driver(spark, probe)
    edges = edges.localCheckpoint(eager=True)
    # size the iterative shuffles from the (already materialized) edge
    # count: duplicate-pair graphs are usually tiny relative to the
    # corpus, and at the session default (e.g. 64) each of the ~4
    # exchanges × log(n) rounds schedules a full width of near-empty
    # tasks — pure scheduling overhead (measured 11 s for a 100-edge
    # graph at 64 partitions).  The width is applied with explicit
    # ``repartition(width, key)`` on the loop DataFrames (r2 temporarily
    # rewrote session-wide spark.sql.shuffle.partitions, which any
    # concurrent query/stream on the same session would inherit —
    # ADVICE r2); a hash distribution on the join/group key at width N
    # satisfies the downstream requirement, so Catalyst inserts no
    # second exchange on top.
    n_edges = edges.count()
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(session_width, n_edges // 50_000 + 1))
    return _cc_loop(edges, max_iters, width)


def _cc_driver(spark, edge_rows) -> DataFrame:
    """Driver union-find (path compression + union by size) over an
    already-collected (src, dst) row list; min-id per component as the
    label."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    size: dict = {}
    for row in edge_rows:
        a, b = row[0], row[1]
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    # int() normalizes Decimal ids (the caller's type guard admits
    # decimal columns; createDataFrame's bigint verifier rejects raw
    # Decimal objects, so the driver path would crash where the
    # distributed loop succeeds)
    rows = [
        (int(node), int(comp_min[find(node)])) for node in parent
    ]
    return spark.createDataFrame(rows, "id bigint, comp bigint")


def _cc_loop(edges: DataFrame, max_iters: int, width: int) -> DataFrame:
    # edges partitioned on dst ONCE and reused by every round's neighbor
    # join (localCheckpoint preserves the physical partitioning)
    edges = edges.repartition(width, "dst").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .repartition(width, "id")
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # labels only decrease ⇒ the (overflow-proof) sum is a convergence scalar
    prev_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]
    for _ in range(max_iters):
        # the alias projection (id→dst) keeps the checkpointed hash(id,
        # width) distribution, so the equi-join adds no exchange; the
        # explicit repartition before the min-agg replaces the agg's own
        # session-width exchange with one at the edge-derived width (the
        # per-partition combine moves after it — acceptable because the
        # join output is bounded by the edge count and a hot viral-family
        # label is AQE-skew-split eligible)
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("comp").alias("dst_comp")
                ),
                "dst",
            )
            .repartition(width, "src")
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
        )
        new = labels.join(nbr, labels["id"] == nbr["src"], "left").select(
            labels["id"],
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        # pointer jump: comp ← comp(comp)
        jump = new.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
        new = (
            new.repartition(width, "comp")
            .join(jump.repartition(width, "comp"), "comp", "left")
            .select("id", F.least("comp", F.coalesce("comp2", "comp")).alias("comp"))
            .repartition(width, "id")
            .localCheckpoint(eager=True)
        )
        new_sum = new.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iters} iters")
    return labels


def dedup_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    transitive: bool = True,
    engine: str = "catalyst",
    keep_col: str | None = None,
) -> DataFrame:
    """Drop near-duplicates: LSH candidates → exact Jaccard ≥ threshold →
    connected components over the duplicate-pair edges → keep one member
    of each component (min id by default; ``keep_col`` keeps the member
    maximizing that column, e.g. ``keep_col="quality"`` — see
    :func:`_component_drops`).  ``transitive=False`` restores the cheaper
    round-1 single-link policy (drop every ``id_b``), which over-drops on
    A~B~C chains where A~C is below threshold.  ``engine="arrow"`` uses
    the vectorized minhash signature (bit-identical candidates)."""
    if keep_col is not None and not transitive:
        raise ValueError("keep_col requires transitive=True (components)")
    cand = lsh_candidate_pairs(
        df, id_col, text_col, shingle_size, num_hashes, bands, engine=engine
    )
    dups = jaccard_pairs(df, cand, id_col, text_col, shingle_size).filter(
        F.col("jaccard") >= threshold
    )
    if transitive:
        to_drop = _component_drops(df, connected_components(dups), id_col, keep_col)
    else:
        to_drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "catalyst",
) -> DataFrame:
    """(id, simhash) — python ``hash`` is salted per-process, so this uses a
    deterministic xxhash64-per-token formulation in pure Spark: ONE
    ``aggregate`` over the token-hash array carrying a 64-element vote
    accumulator (``zip_with`` against a literal bit-mask array), then one
    fold packs positive votes into the signature.  The round-1 version
    built 64 separate ``aggregate`` expressions — 64 traversals of the
    token array per row and a codegen blow-up; the single-pass form is
    bit-identical and measured ~14× faster (3.15 s → 0.22 s warm on 1k
    docs).  ``engine="arrow"`` keeps xxhash64 tokenization JVM-side and
    moves the 64-bit vote/packing to vectorized NumPy
    (:func:`simhash_udf`, bit-identical by test)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok_hash = F.transform(words, lambda t: F.xxhash64(t))
    if engine == "arrow":
        return df.select(F.col(id_col), simhash_udf()(tok_hash).alias("simhash"))
    if engine != "catalyst":
        raise ValueError(f"engine must be 'catalyst' or 'arrow', got {engine!r}")
    masks = F.array(*[F.shiftleft(F.lit(1).cast("long"), b) for b in range(64)])
    # vote for bit b: sum over tokens of (bit set ? +1 : -1)
    votes = F.aggregate(
        tok_hash,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    sig = F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    engine: str = "catalyst",
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via the
    ``max_hamming + 1``-block table split: two 64-bit signatures
    differing in ≤ m bits must agree exactly on at least one of m+1
    disjoint blocks (pigeonhole), so an equi-join per block finds every
    qualifying pair — verify with bit_count, no cartesian.  The default
    m=3 gives the classic 4×16-bit split; a fixed block count for any
    radius would SILENTLY lose recall past its design distance (every
    returned pair valid, missing pairs invisible).

    ``max_hamming`` is capped at 15: 17+ blocks mean sub-4-bit keys,
    and a ≤8-value block key degenerates the self-join toward cartesian.
    """
    m = int(max_hamming)
    if not 0 <= m <= 15:
        raise ValueError(
            f"max_hamming must be in [0, 15] (m+1 blocks need ≥ 4-bit "
            f"keys to keep the per-block self-join selective), got "
            f"{max_hamming!r}"
        )
    n_blocks = m + 1
    bounds = [64 * i // n_blocks for i in range(n_blocks + 1)]
    sigs = simhash_signatures(df, id_col, text_col, engine=engine)

    def _key(b: int):
        start, width = bounds[b], bounds[b + 1] - bounds[b]
        if width >= 64:  # m=0: one block, the full signature
            return F.col("simhash")
        return F.shiftright("simhash", start).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    blocks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"), _key(b).alias("key")
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.blk", "bb.key")
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicates
# ---------------------------------------------------------------------------


def embedding_near_duplicate_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    num_planes: int = 10,
    num_tables: int = 4,
    dim: int = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by embedding cosine ≥ *threshold*.

    Scale shape: ``num_tables`` independent random-hyperplane bucketings
    (different seeds) each produce an equi-self-join on the bucket key —
    near-identical vectors land in the same bucket in at least one table
    with high probability (missing prob ≈ (1−(1−θ/π)^planes)^tables for
    angle θ).  Union of candidates → exact JVM-side cosine filter →
    deduped (id_a < id_b) pairs.  No cartesian anywhere; each join is
    AQE-skew-split eligible.
    """
    from .similarity import cosine_expr, hyperplane_signature

    if dim is None:
        # one row probes the vector length; the probe must skip NULL
        # embeddings (a nullable first ROW is not an empty CORPUS — an
        # unfiltered first() would silently return zero pairs for the
        # whole table).  Pass dim explicitly to skip this probe job.
        head = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if head is None or head[0] is None:
            from pyspark.sql import types as T

            id_type = df.schema[id_col].dataType
            empty_schema = T.StructType(
                [
                    T.StructField("id_a", id_type),
                    T.StructField("id_b", id_type),
                    T.StructField("cosine", T.DoubleType()),
                ]
            )
            return df.sparkSession.createDataFrame([], empty_schema)
        dim = len(head[0])
    pairs = None
    for t in range(num_tables):
        sig = df.select(
            F.col(id_col),
            F.col(vec_col),
            hyperplane_signature(vec_col, dim, num_planes, seed=101 + t).alias("bucket"),
        )
        a = sig.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "bucket"
        )
        b = sig.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "bucket"
        )
        cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
        pairs = cand if pairs is None else pairs.unionByName(cand)
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return (
        pairs.withColumn(
            "cosine",
            cosine_expr(
                F.col("__va").cast("array<double>"), F.col("__vb").cast("array<double>")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def dedup_embedding(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    num_planes: int = 10,
    num_tables: int = 4,
    transitive: bool = True,
) -> DataFrame:
    """Drop embedding-cosine near-duplicates (keep the min-id member of
    each connected duplicate component, same policy as
    :func:`dedup_minhash`; ``transitive=False`` = single-link drop)."""
    dups = embedding_near_duplicate_pairs(
        df, threshold, id_col, vec_col, num_planes, num_tables
    )
    if transitive:
        comp = connected_components(dups)
        to_drop = comp.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    else:
        to_drop = dups.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_drop, id_col, "left_anti")


# -- incremental dedup against a prior snapshot --------------------------

def seen_hashes(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The 64-bit content-hash set of a corpus snapshot — the compact
    "already ingested" side for :func:`novel_docs`.  Fixed-width key,
    distinct-aggregated, so the seen-set a 100 TB crawl carries between
    increments is ~8 bytes/doc, never the text."""
    return df.select(F.xxhash64(F.col(text_col)).alias("text_hash")).distinct()


def novel_docs(
    df: DataFrame,
    seen: DataFrame,
    *,
    text_col: str = "text",
    broadcast_threshold: int | None = None,
    bloom_num_bits: int | None = None,
    bloom_num_hashes: int = 5,
) -> DataFrame:
    """Incremental exact dedup: keep only documents whose text content
    was NOT in *seen* (a ``text_hash`` table from :func:`seen_hashes`,
    e.g. the previous crawl snapshot) — the new-data gate of a rolling
    ingestion pipeline.

    ONE left-anti join on the fixed-width hash.  By default it shuffles
    both sides on the hash (AQE-skew eligible; correct at any scale).
    When the seen-set is known small, pass *broadcast_threshold*: if
    ``seen.count() <= threshold`` the anti-join broadcasts and the
    corpus side never moves (the documented collect-free small-side
    contract — only a count is evaluated on the driver).

    When the seen-set is too big to broadcast exactly but its BLOOM
    FILTER isn't (the 10^12-page frontier case), pass *bloom_num_bits*:
    a Bloom filter of the seen hashes (``operators/bloom.build_bloom``)
    prefilters the corpus with broadcast joins — rows the filter calls
    DEFINITELY-new (no false negatives, the tested law) bypass the
    anti-join entirely and never shuffle; only the maybe-seen sliver
    (true dups + the ~fpp false positives) pays the exact join.  The
    result set is IDENTICAL to the plain path (law-tested) — the bloom
    changes the plan, never the answer.
    """
    keyed = df.withColumn("__h", F.xxhash64(F.col(text_col)))
    dim = seen.select(F.col("text_hash").alias("__h"))
    if bloom_num_bits is not None:
        from .bloom import bloom_might_contain, build_bloom

        bloom = build_bloom(
            seen.select(F.col("text_hash").alias("__h")),
            "__h",
            num_bits=bloom_num_bits,
            num_hashes=bloom_num_hashes,
        )
        flagged = bloom_might_contain(
            keyed, bloom, "__h",
            num_bits=bloom_num_bits, num_hashes=bloom_num_hashes,
            result_col="__maybe", engine="join",
        )
        # NULL flag (NULL key → bloom_might_contain returns NULL) routes
        # to the exact-join sliver, not out of existence — __h is never
        # NULL today (xxhash64), but the split must not silently drop
        # rows if the key expression ever changes (ADVICE r4)
        maybe = F.coalesce(F.col("__maybe"), F.lit(True))
        fresh = flagged.filter(~maybe).drop("__maybe")
        sliver = flagged.filter(maybe).drop("__maybe")
        if broadcast_threshold is not None and dim.count() <= int(
            broadcast_threshold
        ):
            dim = F.broadcast(dim)
        return fresh.unionByName(
            sliver.join(dim, "__h", "left_anti")
        ).drop("__h")
    if broadcast_threshold is not None and dim.count() <= int(broadcast_threshold):
        dim = F.broadcast(dim)
    return keyed.join(dim, "__h", "left_anti").drop("__h")


# -- SemDeDup: cluster-partitioned semantic dedup -------------------------

def _sqdist_expr(vec: Column, centroid: Column) -> Column:
    """Serial-fold squared L2 distance between two double arrays — the
    engine-portable formula (products, then a left fold of additions;
    DuckDB replays it bit-for-bit via list_reduce/list_prepend)."""
    return F.aggregate(
        F.zip_with(vec, centroid, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def semantic_cluster_expr(vec_col: Column | str, centroids: list) -> Column:
    """Argmin-distance cluster id over LITERAL centroids as a pure
    codegen projection (array of (dist, id) structs → lexicographic
    ``array_min``; ties → lowest id).  Centroids enter the plan as
    double-array literals, so assignment is zero-shuffle and rides the
    scan — the SemDeDup partitioning step never moves the corpus."""
    qv = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    qv = qv.cast("array<double>")
    pairs = F.array(
        *[
            F.struct(
                _sqdist_expr(qv, F.lit([float(x) for x in c])).alias("d"),
                F.lit(i).alias("c"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(pairs)["c"].cast("int")


def semantic_dup_pairs(
    df: DataFrame,
    centroids: list,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup candidate generation (Abbas et al. 2023, arXiv
    2303.03540): partition the corpus by nearest centroid, then compare
    embeddings ONLY within a cluster — pairwise work drops from O(n²) to
    Σ|cluster|², the paper's core trick.  Returns
    ``(id_a, id_b, cluster, cosine)`` with cosine ≥ *threshold*.

    Scale shape: assignment is a zero-shuffle literal projection
    (:func:`semantic_cluster_expr`); candidates come from ONE
    equi-self-join on the cluster id (AQE-skew eligible) — there is no
    cartesian and no LSH randomness, so unlike
    :func:`embedding_near_duplicate_pairs` recall within a cluster is
    exact.  Choose ``len(centroids)`` so expected cluster size keeps
    |cluster|² bounded (the paper uses k ≈ n/100); centroids typically
    come from :func:`verde_spark.operators.clustering.kmeans_fit` (pass
    ``model.centroids_unit_scale()``) and are small by contract — they
    enter the plan as literals, never as a shuffled side.
    """
    from .similarity import cosine_expr

    sig = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        semantic_cluster_expr(vec_col, centroids).alias("cluster"),
    )
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), "cluster"
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), "cluster"
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("__va", "__vb"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cluster", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list | None = None,
    threshold: float = 0.95,
    *,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    keep: str = "edge",
) -> DataFrame:
    """Drop semantic near-duplicates, SemDeDup-style: k-means-partition
    the embedding space, find within-cluster cosine-≥-threshold pairs,
    connect them into components, keep ONE member per component.

    ``keep="edge"`` (the paper's policy): keep the member FARTHEST from
    its cluster centroid — low-centroid-similarity examples carry the
    most marginal information (SemDeDup §3).  ``keep="min_id"``: keep
    the lowest id (the :func:`dedup_minhash` default policy).  Both tie-
    break deterministically to min id.

    ``centroids=None`` trains them here with
    :func:`~verde_spark.operators.clustering.kmeans_fit` (*k*,
    *iterations*) — pass precomputed centroids to skip the training
    scans and make the whole operator deterministic code-constants.

    ``id_col`` must be numeric (the :func:`connected_components`
    contract, same as :func:`dedup_minhash`) — hash string ids first
    (``xxhash64``).  :func:`semantic_dup_pairs` alone accepts any
    orderable id type.
    """
    if keep not in ("edge", "min_id"):
        raise ValueError(f"unknown keep policy: {keep!r}")
    if centroids is None:
        from .clustering import kmeans_fit

        _, model = kmeans_fit(
            df, k, iterations, vec_col=vec_col, id_col=id_col
        )
        centroids = [[float(x) for x in c] for c in model.centroids_unit_scale()]
    dups = semantic_dup_pairs(df, centroids, threshold, id_col, vec_col)
    comp = connected_components(dups.select("id_a", "id_b"))
    if keep == "min_id":
        to_drop = _component_drops(df, comp, id_col, None)
    else:
        # per-row distance to the OWN cluster's centroid, as one literal
        # projection; _component_drops keeps the member MAXIMIZING the
        # keep column, i.e. the farthest-from-centroid "edge" example.
        # the own-cluster distance IS the minimum of the distance table
        # (the assignment is the argmin over the same centroids), so one
        # array_min replaces an element_at(·, argmin+1) that would
        # re-expand all k d-dimensional folds a second time under
        # interpreted Catalyst (no CSE)
        qv = F.col(vec_col).cast("array<double>")
        dist_table = F.array(
            *[
                _sqdist_expr(qv, F.lit([float(x) for x in c]))
                for c in centroids
            ]
        )
        aug = df.withColumn("__edge_dist", F.array_min(dist_table))
        to_drop = _component_drops(aug, comp, id_col, "__edge_dist")
    return df.join(to_drop, id_col, "left_anti")
