"""Deduplication operators (driver mandate, SURVEY.md §7.4): exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact dedup is a hash-groupBy — one shuffle on the content hash;
- exact pairwise Jaccard is the *ground-truth* operator: it self-joins on
  shingles, which explodes on frequent shingles — fine for verification,
  quadratic in the worst case at 100 TB;
- MinHash+LSH is the scale path: fixed-size signatures (k hashes),
  banded into buckets, candidate pairs only within buckets → the shuffle
  key is the (band, bucket-hash), never the raw shingle, and skew is
  bounded by band width;
- SimHash gives a 64-bit fingerprint whose hamming distance approximates
  cosine similarity of the token sets — near-dup detection becomes a
  band-equality join on bit slices.

Engine-visible hashes (MinHash signatures, SimHash fingerprints) derive
from sha-256 (via ``conv(substr(sha2,…),16,10)``), so they are
engine-independent and unit tests verify them against a pure-Python
golden implementation bit for bit. Purely internal join keys (the
Jaccard shingle key) use ``xxhash64`` — never surfaced in results.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, Window, functions as F

from sunat_rree_demo_spark.operators.skew import fan_out
from sunat_rree_demo_spark.operators.text import tokens as tokenize

#: MinHash parameters — fixed, public, deterministic.
MINHASH_K = 32          #: signature length
LSH_BANDS = 8           #: bands (rows per band = K / BANDS = 4)
MERSENNE_P = 2147483647  #: 2^31 - 1
HASH_HEX_LEN = 7         #: 28-bit base hash keeps a*h+b inside int64


def _minhash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """(a, b) per permutation — fixed affine constants, odd a."""
    return [((1000003 * i + 12345) | 1, 7919 * i + 104729) for i in range(k)]


def base_hash_py(s: str) -> int:
    """28-bit engine-independent hash of a string in Python: the leading
    hex of sha-256, bit-equal to ``base_hash_col``. The one base hash of
    every Arrow-batched pass here (rolling window keys, MinHash
    signatures) and the golden twin the tests check the engine
    against."""
    return int(hashlib.sha256(s.encode()).hexdigest()[:HASH_HEX_LEN], 16)


def base_hash_col(col):
    """28-bit engine-independent hash of a string: leading hex of
    sha-256. ``conv`` parses hex → decimal string → long."""
    return F.conv(F.substring(F.sha2(col, 256), 1, HASH_HEX_LEN), 16, 10).cast("bigint")


def shingles(tok, n: int = 5):
    """Distinct word n-gram shingles of a token array: positions
    1..len-n+1, each joined by a single space (DuckDB twin:
    ``list_distinct(list_transform(range(1, len-n+2), i ->
    array_to_string(tk[i:i+n-1], ' ')))``). Documents shorter than n
    tokens yield an empty array (an unguarded ``sequence(1, size-n+1)``
    runs DESCENDING for short docs and crashes ``slice``).

    CALLER CONTRACT: pass a MATERIALIZED token column (an alias from a
    projection), not an inline ``tokenize(text)`` expression — the
    lambda embeds ``tok`` and interpreted HOFs re-evaluate embedded
    subtrees per element, so an inline tokenizer goes O(len²) (the r7
    bigram/winnowing finding; production shingling rides the
    mapInPandas ``shingle_arrays`` path and is unaffected)."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
        )
    )
    return F.when(F.size(tok) >= n, grams) \
        .otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id row per content hash. One hash-groupBy
    shuffle on the digest (uniform key → no skew), then a semi-join back
    for the full row."""
    canon = (
        df.select(F.sha2(F.col(content_col), 256).alias("_h"), F.col(id_col))
        .groupBy("_h").agg(F.min(id_col).alias(id_col))
    )
    return df.join(canon.select(id_col), on=id_col, how="left_semi")


#: ASCII whitespace splitter — ONE tokenizer for every Python batch
#: loop in this module, matching the DuckDB oracle contract exactly:
#: RE2's ``\s`` is ASCII-only and ``trim()`` strips spaces only, so the
#: Python side must not strip/split Unicode whitespace (``str.strip()``
#: + Unicode ``\s`` would shift token boundaries on \xa0 etc.).
_WS = __import__("re").compile(r"\s+", __import__("re").ASCII)


def _py_tokens(txt) -> list[str] | None:
    """Tokenize one document for the Arrow-batched loops: None/NaN text
    yields None (the row vanishes, like the Column path's null
    propagation — NOT the literal token 'None')."""
    if txt is None or (isinstance(txt, float) and txt != txt):
        return None
    return _WS.split(str(txt).strip(" "))


def _doc_token_batches(batches, id_col: str, text_col: str, n: int):
    """Shared frame of the three mapInPandas loops (shingles, MinHash,
    chunks): yield (pdf, [(id, tokens), ...]) per Arrow batch, skipping
    docs with fewer than n tokens. Keeping tokenization in ONE place
    means the operators cannot silently disagree."""
    for pdf in batches:
        out = []
        for i, txt in zip(pdf[id_col], pdf[text_col]):
            tk = _py_tokens(txt)
            if tk is None or len(tk) < n:
                continue
            out.append((i, tk))
        yield pdf, out


def doc_shingle_arrays(docs: DataFrame, id_col: str, text_col: str,
                       n: int = 5) -> DataFrame:
    """(id, shingles: array<string>) — the distinct word n-gram set per
    doc, at DOC grain. Docs shorter than n tokens yield no row.

    Arrow-batched Python (mapInPandas) instead of the Catalyst
    sequence/transform/slice HOF chain: higher-order functions are
    interpreted per element, while a per-batch Python loop over plain
    strings is ~5× faster and identical in semantics (regex whitespace
    split, n-token join by single space, distinct). Doc grain keeps the
    per-doc shingle-set SIZE available as a zero-shuffle projection
    (``F.size``) — ``ngram_jaccard_pairs`` reads it directly instead of
    re-aggregating exploded rows."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("shingles", T.ArrayType(T.StringType())),
    ])

    def gen(batches):
        for _pdf, toks in _doc_token_batches(batches, id_col, text_col, n):
            ids = [i for i, _ in toks]
            shs = [sorted({" ".join(tk[j:j + n])
                           for j in range(len(tk) - n + 1)})
                   for _, tk in toks]
            yield pd.DataFrame({id_col: ids, "shingles": shs})

    return fan_out(docs.select(id_col, text_col)).mapInPandas(
        gen, schema=out_schema)


def shingle_rows(docs: DataFrame, id_col: str, text_col: str,
                 n: int = 5) -> DataFrame:
    """(id, shingle) exploded rows — distinct shingles per doc (the
    row-grain view of ``doc_shingle_arrays``)."""
    return doc_shingle_arrays(docs, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("shingle"))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str, text_col: str,
                        n: int = 5, threshold: float = 0.3,
                        max_shingle_df: int | None = 256,
                        arr: DataFrame | None = None) -> DataFrame:
    """Exact pairwise n-gram Jaccard ≥ threshold (ground-truth near-dup).

    Plan: doc-grain shingle arrays (one lazy checkpoint) → explode →
    group by shingle → emit sorted-id combinations → count
    intersections → join per-doc sizes (a zero-shuffle ``F.size``
    projection of the same checkpoint) → filter. Use MinHash+LSH
    (below) when the corpus is too large for the shingle group-by.

    Shingle strings are collapsed to 64-bit ``xxhash64`` keys right
    after the Python shingler, so every shuffle and the checkpoint carry
    16-byte (id, hash) rows instead of ~50-byte strings. The hash is
    internal only (the DuckDB oracle twin intersects the strings
    themselves); a 64-bit collision would merge two distinct shingles —
    p ≈ n²/2⁶⁵, ~3·10⁻⁸ at a million distinct shingles — measured
    irrelevant on committed testdata (hash-identical results) and
    negligible against MinHash's own approximation error at corpus
    scale. The pair generation groups rows by shingle once and explodes
    sorted-id combinations per group — one shuffle, versus two plus a
    join for the classic self-join form, with identical output.

    ``max_shingle_df`` bounds the pair fan-out: one shingle shared by f
    documents emits f(f−1)/2 pairs, so a single boilerplate phrase
    ("all rights reserved …") appearing in millions of docs would
    otherwise explode one reducer. Shingles with document frequency
    above the cutoff are dropped from BOTH the intersection counts and
    the per-doc sizes (the standard stop-shingle treatment — such
    shingles carry no near-dup signal anyway). The drop is LOGGED,
    never silent; committed testdata's max df is 4 (sf0.1), so the 256
    default provably changes nothing there — the exact DuckDB oracle
    twin stays hash-identical. ``None`` disables the guard (true
    unbounded ground truth)."""
    # doc-grain shingle arrays materialized once (localCheckpoint) —
    # they feed the guard count, the grouped pair explode, and the
    # per-doc sizes; recomputing the Python shingling would dominate.
    # The checkpoint is LAZY: the guard count (inside
    # _guarded_shingle_rows) is the first action, so shingling,
    # checkpoint persist, and the hot-shingle aggregate all ride ONE
    # job (the r3 eager form paid a separate checkpoint job first —
    # ~25% of q40's warm wall at sf0.1). A caller holding an
    # already-materialized corpus (the session shingle cache shared by
    # q40/q71/q97) passes it via ``arr`` and the Python shingler
    # doesn't run at all.
    return jaccard_scores(
        pair_intersection_table(docs, id_col, text_col, n,
                                max_shingle_df, arr,
                                opname="ngram_jaccard_pairs"),
        threshold)


def pair_intersection_table(docs: DataFrame, id_col: str, text_col: str,
                            n: int = 5,
                            max_shingle_df: int | None = 256,
                            arr: DataFrame | None = None,
                            opname: str = "pair_intersection_table") \
        -> DataFrame:
    """(id1, id2, inter, n1, n2) for every document pair sharing at
    least one n-gram shingle — the shared upstream of EVERY exact
    set-similarity score: Jaccard (``jaccard_scores``), containment
    (``containment_scores``), and any overlap/Dice variant are pure
    per-row projections of this one frame, so a pipeline computing
    several scores (q40's Jaccard pairs, q144's containment pairs,
    q146's provenance matrix) writes this table ONCE and filters it
    per score instead of re-running the grouped pair emit per query.
    Same guard prelude, hash caveat and single-shuffle pair emit as
    ``ngram_jaccard_pairs`` (this IS its upstream since r11)."""
    if arr is None:
        arr = (doc_shingle_arrays(docs, id_col, text_col, n)
               .localCheckpoint(eager=False))
    # NO fan_out on the memo-scan path (r12, A/B'd): the few-split
    # memo scan does serialize the explode/group map stage on as many
    # cores (4 tasks / 438 ms at sf0.1), but round-robin repartition
    # must move the WHOLE shingle-array payload through a shuffle
    # (plus the sort-before-repartition pass) — measured q40 1.42s ->
    # 2.0s, q41 1.21s -> 1.76s back-to-back. Guide §8's rule applies
    # to the fix, not just the query: don't shuffle heavy payloads to
    # save a sub-second map stage.
    sh, sizes = _guarded_shingle_rows(arr, id_col, max_shingle_df,
                                      opname)
    inter, sa, sb = _pair_intersections(sh, sizes, id_col)
    return inter.join(sa, "id1").join(sb, "id2")


def jaccard_scores(pair_inter: DataFrame,
                   threshold: float = 0.3) -> DataFrame:
    """Jaccard projection of a ``pair_intersection_table`` frame:
    |∩| / (|A| + |B| − |∩|) ≥ threshold → (id1, id2, jaccard)."""
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (pair_inter.filter(jac >= threshold)
            .select("id1", "id2", F.round(jac, 4).alias("jaccard")))


def setsim_score_matrix(pair_inter: DataFrame,
                        min_dice: float = 0.4) -> DataFrame:
    """All four classic set-overlap scores as ONE projection of a
    ``pair_intersection_table`` frame — Jaccard |∩|/|∪|, Dice
    2|∩|/(|A|+|B|), overlap coefficient |∩|/min(|A|,|B|) and max
    containment — filtered on Dice (the middle-of-the-road score:
    monotone in Jaccard, bounded by overlap). The triage view a dedup
    pipeline reads when tuning thresholds: one parquet scan of the
    pair graph, four column expressions, no new shuffle."""
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    dice = 2 * F.col("inter") / (F.col("n1") + F.col("n2"))
    ovl = F.col("inter") / F.least("n1", "n2")
    cmax = F.greatest(F.col("inter") / F.col("n1"),
                      F.col("inter") / F.col("n2"))
    return (pair_inter.filter(dice >= min_dice)
            .select("id1", "id2",
                    F.round(jac, 4).alias("jaccard"),
                    F.round(dice, 4).alias("dice"),
                    F.round(ovl, 4).alias("overlap"),
                    F.round(cmax, 4).alias("cmax")))


def containment_scores(pair_inter: DataFrame,
                       threshold: float = 0.5) -> DataFrame:
    """Containment projection of a ``pair_intersection_table`` frame:
    max(|∩|/|A|, |∩|/|B|) ≥ threshold → (id1, id2, c12, c21, cmax);
    c12 = |∩|/|A| is the fraction of doc1 contained in doc2."""
    c12 = F.col("inter") / F.col("n1")
    c21 = F.col("inter") / F.col("n2")
    return (pair_inter.filter(F.greatest(c12, c21) >= threshold)
            .select("id1", "id2",
                    F.round(c12, 4).alias("c12"),
                    F.round(c21, 4).alias("c21"),
                    F.round(F.greatest(c12, c21), 4).alias("cmax")))


def _guarded_shingle_rows(arr: DataFrame, id_col: str,
                          max_shingle_df: int | None, opname: str):
    """Shared prelude of the exact set-similarity family: hashed
    (id, _sh) shingle rows + per-doc sizes off the doc-grain arrays,
    with the stop-shingle document-frequency guard applied to BOTH.

    The per-doc size is a zero-shuffle ``F.size`` projection (arrays
    hold the distinct set already); only a FIRED guard falls back to
    re-aggregating the filtered rows. The guard must fire BEFORE any
    collect_list: a hot shingle's id array would otherwise materialize
    f elements in one reducer row — the exact blowup the cutoff exists
    to prevent. Its count aggregate is narrow (map-side combined
    longs), the hot set is tiny (broadcast anti-join), and counting it
    is the callers' documented-eager step doubling as the
    no-silent-caps log line."""
    import logging

    sh = arr.select(F.col(id_col),
                    F.explode("shingles").alias("shingle")) \
        .select(F.col(id_col), F.xxhash64("shingle").alias("_sh"))
    sizes = arr.select(F.col(id_col), F.size("shingles").alias("_n"))
    if max_shingle_df is not None:
        hot = (sh.groupBy("_sh").agg(F.count("*").alias("_df"))
               .filter(F.col("_df") > max_shingle_df))
        n_hot = hot.count()
        if n_hot:
            logging.getLogger(__name__).warning(
                "%s: dropping %d shingles with df > %d "
                "(stop-shingle fan-out guard)", opname, n_hot,
                max_shingle_df)
            sh = sh.join(F.broadcast(hot.select("_sh")), "_sh", "left_anti")
            sizes = sh.groupBy(id_col).agg(F.count("*").alias("_n"))
    return sh, sizes


def _pair_intersections(sh: DataFrame, sizes: DataFrame, id_col: str):
    """Shared core of the exact set-similarity family: from exploded
    (id, _sh) shingle-hash rows and per-doc sizes, produce the pair
    intersection counts plus id1/id2-keyed size frames. One grouped
    pair emit (sorted-id combinations per shingle group — a single
    shuffle), never a corpus self-join."""
    grp = (sh.groupBy("_sh")
           .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
           # singleton shingles (the vast majority in a mostly-unique
           # corpus) emit no pairs — drop them BEFORE the interpreted
           # combination HOF ever sees them
           .filter(F.size("ids") >= 2))
    # sorted-id combinations per shingle group: ids is ascending, so
    # (ids[i], ids[j>i]) gives id1 < id2 without a filter; interpreted
    # HOF, but bounded by the df cutoff (≤ f(f−1)/2 structs per row)
    pairs = grp.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id1, y AS id2))))"
    )).alias("p")).select("p.id1", "p.id2")
    inter = pairs.groupBy("id1", "id2").agg(F.count("*").alias("inter"))
    # no broadcast hint: sizes is doc-grain (corpus-sized at scale);
    # AQE broadcasts it when the checkpoint stats say it is small
    sa = sizes.withColumnRenamed(id_col, "id1").withColumnRenamed("_n", "n1")
    sb = sizes.withColumnRenamed(id_col, "id2").withColumnRenamed("_n", "n2")
    return inter, sa, sb


def containment_pairs(docs: DataFrame, id_col: str, text_col: str,
                      n: int = 5, threshold: float = 0.5,
                      max_shingle_df: int | None = 256,
                      arr: DataFrame | None = None) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    ``C(A→B) = |A∩B| / |A|`` — the quote/subset/excerpt signal
    symmetric Jaccard structurally misses (a 50-shingle excerpt fully
    contained in a 5000-shingle article has C ≈ 1.0 but J ≈ 0.01, so
    no Jaccard threshold finds it without drowning in noise). Standard
    companion to Jaccard dedup in training-data pipelines (Broder'97
    defines both; containment drives \"document is a subset\" drops).

    Returns (id1, id2, c12, c21, cmax) for pairs with
    ``max(C(1→2), C(2→1)) ≥ threshold``; c12 = |∩|/|s1| is the
    fraction of doc1 contained in doc2. Same single-shuffle grouped
    pair emit, per-doc sizes and guard prelude as
    ``ngram_jaccard_pairs`` (shares ``_guarded_shingle_rows`` +
    ``_pair_intersections``); the same 64-bit hash caveat and
    ``max_shingle_df`` stop-shingle guard apply (logged, never silent —
    committed testdata's max df stays far below the cutoff, so the
    exhaustive oracle is provably unaffected there). Scale path: LSH
    candidates + this verify, exactly like
    ``verified_near_dup_pairs``."""
    return containment_scores(
        pair_intersection_table(docs, id_col, text_col, n,
                                max_shingle_df, arr,
                                opname="containment_pairs"),
        threshold)


def chunk_dup_stats(docs: DataFrame, id_col: str, text_col: str,
                    n: int = 8) -> DataFrame:
    """Substring-chunk duplication signal (Lee et al. 2021,
    'Deduplicating Training Data Makes Language Models Better', at
    non-overlapping n-token chunk grain): per doc, its distinct chunk
    count, how many of those chunks appear in at least one OTHER doc,
    and the duplicated fraction — the cross-doc boilerplate measure
    behind substring-level dedup and quality filtering.

    Returns (id, n_chunks, n_dup_chunks, dup_frac) for docs with ≥ n
    tokens. ``dup_frac`` is integer half-up arithmetic
    ((2·10⁴·d + c) div 2c / 10⁴) so no float sum can drift between
    engines.

    Scale shape: chunking runs in the same Arrow-batched Python pass as
    the shinglers (the keep-string-hot-loops-in-mapInPandas rule —
    ≤ len/n chunks per doc, an order lighter than shingling), then ONE
    uniform chunk-key shuffle where a ``count() OVER (PARTITION BY
    chunk)`` window computes each chunk's document frequency IN PLACE
    (per-doc chunks are distinct by construction, so the plain row
    count equals the distinct-doc count), and a doc-grain aggregate
    finishes. The window replaces the r3 aggregate + self-join pair:
    one linear plan, the Python pass consumed exactly once per action —
    no localCheckpoint, no second shuffle of chunk strings, and the
    builder is pure again (memoizable)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("chunks", T.ArrayType(T.StringType())),
    ])

    def gen(batches):
        for _pdf, toks in _doc_token_batches(batches, id_col, text_col, n):
            ids = [i for i, _ in toks]
            chs = [sorted({" ".join(tk[j * n:(j + 1) * n])
                           for j in range(len(tk) // n)})
                   for _, tk in toks]
            yield pd.DataFrame({id_col: ids, "chunks": chs})

    ch = (fan_out(docs.select(id_col, text_col))
          .mapInPandas(gen, schema=out_schema)
          .select(F.col(id_col), F.explode("chunks").alias("chunk")))
    nd = F.count("*").over(Window.partitionBy("chunk"))
    return (
        ch.withColumn("_nd", nd)
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_chunks"),
             F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
             .cast("bigint").alias("n_dup"))
        .select(F.col(id_col), "n_chunks",
                F.col("n_dup").alias("n_dup_chunks"),
                (F.expr("(2*10000*n_dup + n_chunks) div (2*n_chunks)")
                 .cast("double") / 10000.0).alias("dup_frac"))
    )


#: Rabin–Karp rolling-hash constants, shared verbatim by the DuckDB
#: oracle (queries/corpus.py): modulus 2³¹−1 keeps every per-term
#: product (28-bit base hash × <2³¹ power) under 2⁵⁹ and the n-term
#: window sum under 2⁶³, so BOTH engines stay in exact int64.
ROLL_MOD = 2147483647   # 2^31 - 1 (Mersenne)
ROLL_BASE = 1000003


def roll_powers(n: int) -> list[int]:
    """[B^(n-1), …, B, 1] mod M — the per-offset multipliers of an
    n-token window key."""
    return [pow(ROLL_BASE, n - 1 - i, ROLL_MOD) for i in range(n)]


def _window_key_arrays(docs: DataFrame, id_col: str, text_col: str,
                       n: int) -> DataFrame:
    """(id, keys array<bigint>) — each doc's overlapping n-token window
    keys under the Rabin–Karp polynomial hash, IN ORDER (keys[j] is the
    window starting at token j; repeats kept). The one Arrow-batched
    key pass: per doc, one int64 sliding-window dot product (exact —
    see ROLL_MOD bound). Docs with fewer than n tokens emit no row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    pw = np.array(roll_powers(n), dtype="int64")

    out_schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("keys", T.ArrayType(T.LongType())),
    ])

    def gen(batches):
        for _pdf, toks in _doc_token_batches(batches, id_col, text_col, n):
            ids, kys = [], []
            for i, tk in toks:
                h = np.fromiter(map(base_hash_py, tk), dtype="int64",
                                count=len(tk))
                win = np.lib.stride_tricks.sliding_window_view(h, n)
                ids.append(i)
                kys.append(win @ pw % ROLL_MOD)
            if ids:
                yield pd.DataFrame({id_col: ids, "keys": kys})

    return (fan_out(docs.select(id_col, text_col))
            .mapInPandas(gen, schema=out_schema))


def rolling_window_keys(docs: DataFrame, id_col: str, text_col: str,
                        n: int = 8) -> DataFrame:
    """(id, key) — each doc's DISTINCT overlapping n-token window keys
    under the Rabin–Karp polynomial hash (see ``rolling_chunk_stats``
    for the hash contract; the DuckDB oracles of q143/q150 recompute
    the keys from the same constants): the ``_window_key_arrays`` pass,
    de-duplicated per doc before the explode."""
    return (_window_key_arrays(docs, id_col, text_col, n)
            .select(F.col(id_col),
                    F.explode(F.array_distinct("keys")).alias("key")))


def exact_substring_spans(docs: DataFrame, id_col: str, text_col: str,
                          n: int = 8) -> DataFrame:
    """MAXIMAL repeated-substring spans — the ExactSubstr REMOVAL step
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", §3.1: drop every substring of ≥ n tokens that
    appears more than once in the corpus; their single-node build is a
    suffix array, this is the distributed relational equivalent):
    every n-token window keyed by the Rabin–Karp rolling hash (the
    q143 contract — same constants, verified cross-engine), a window
    is *repeated* when its key occurs ≥ 2 times ANYWHERE (other docs
    OR a self-repeat — occurrence count, not the document frequency
    ``rolling_chunk_stats`` uses), and runs of consecutive repeated
    window starts merge into maximal spans via gaps-and-islands:
    consecutive starts j, j+1 overlap in n−1 tokens, so the union
    [min j, max j + n − 1] is one contiguous repeated region.

    Returns (id, span_start, span_len, n_dup_windows) at span grain —
    token offsets, 0-based — ordered for the removal rewrite a
    pipeline applies next (the reference stops at pandas full-row
    drops, sunat_rree_demo/app.py:214).

    Scale shape: one Arrow-batched key pass (positions ride along as
    the posexplode index — 8-byte longs on the wire, never strings),
    ONE uniform key shuffle for the occurrence count, then a doc-grain
    window for the island grouping — bounded by doc length, the same
    two-shuffle budget as ``rolling_chunk_stats`` plus the doc-grain
    repartition every per-doc rewrite pays anyway."""
    ks = (_window_key_arrays(docs, id_col, text_col, n)
          .select(F.col(id_col),
                  F.posexplode("keys").alias("j", "key")))
    occ = F.count("*").over(Window.partitionBy("key"))
    dup = ks.withColumn("_c", occ).filter(F.col("_c") >= 2)
    byj = Window.partitionBy(id_col).orderBy("j")
    return (
        dup.withColumn("_g", F.col("j") - F.row_number().over(byj))
        .groupBy(id_col, "_g")
        .agg(F.min("j").cast("bigint").alias("span_start"),
             (F.max("j") - F.min("j") + n).cast("bigint")
             .alias("span_len"),
             F.count("*").cast("bigint").alias("n_dup_windows"))
        .drop("_g")
    )


def exact_substring_rewrite(docs: DataFrame, id_col: str,
                            text_col: str, n: int = 8) -> DataFrame:
    """ExactSubstr dedup APPLIED (the companion of
    ``exact_substring_spans``, mirroring how ``chunk_dedup_rewrite``
    applies what ``chunk_dup_stats`` measures): delete every token
    covered by a maximal repeated span — ALL occurrences, the
    Lee et al. 2022 §3.1 rule ("remove every substring that appears
    more than once"; they note the loss is negligible because one
    copy's context survives elsewhere) — and reassemble each doc's
    surviving tokens.

    Returns (id, n_tokens, n_removed, new_text) for EVERY input doc;
    docs shorter than n tokens pass through untouched.

    Scale shape: the span pass is ``exact_substring_spans``'s
    two-shuffle budget; token positions are a zero-Python JVM
    posexplode; the span⋈token range join is doc-grain equi-keyed
    (spans per doc are few, so the per-row range probe is bounded);
    reassembly is the same doc-grain sorted-struct aggregate the
    chunk rewrite uses — per-doc state only, never corpus-sized."""
    spans = exact_substring_spans(docs, id_col, text_col, n).select(
        F.col(id_col), F.col("span_start").alias("_s"),
        (F.col("span_start") + F.col("span_len") - 1).alias("_e"))
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col))).alias("j", "tok"))
    rm = (toks.join(spans,
                    on=[toks[id_col] == spans[id_col],
                        toks["j"] >= spans["_s"],
                        toks["j"] <= spans["_e"]],
                    how="left_semi")
          .select(F.col(id_col), F.col("j")))
    marked = toks.join(rm.withColumn("_rm", F.lit(1)),
                       on=[id_col, "j"], how="left")
    return (
        marked.groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_tokens"),
             F.sum(F.when(F.col("_rm").isNotNull(), 1).otherwise(0))
             .cast("bigint").alias("n_removed"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("_rm").isNull(),
                                F.struct(F.col("j"), F.col("tok"))))),
                     lambda s: s["tok"]),
                 " ").alias("new_text"))
    )


def rolling_chunk_stats(docs: DataFrame, id_col: str, text_col: str,
                        n: int = 8) -> DataFrame:
    """OVERLAPPING n-token window duplication signal — the
    boundary-proof upgrade of ``chunk_dup_stats`` (Lee et al. 2021 use
    suffix arrays for exact substrings; every n-token window keyed by a
    rolling hash is the scalable relational equivalent): a duplicated
    run that straddles a fixed chunk boundary is invisible to
    non-overlapping chunking but always covers at least one of the
    overlapping windows, so window-grain df catches it.

    Window key = Rabin–Karp polynomial over engine-independent 28-bit
    sha-256 token hashes: ``K(j) = Σᵢ h(t_{j+i})·B^{n-1-i} mod M``.
    The rolling identity ``K(j+1) = (K(j) − h(t_j)·B^{n-1})·B +
    h(t_{j+n}) mod M`` is what makes per-token streaming updates O(1);
    this batch pass computes the same key as one int64 sliding-window
    dot product per doc (vectorized, exact — see ROLL_MOD bound), and
    the DuckDB oracle re-derives it per window in SQL, so the keys are
    verified cross-engine rather than being an internal shortcut.

    Returns (id, n_windows, n_dup_windows, dup_frac) for docs with ≥ n
    tokens; windows are per-doc DISTINCT keys, ``n_dup_windows`` counts
    those present in at least one OTHER doc, and ``dup_frac`` uses the
    same integer half-up device as ``chunk_dup_stats``. Plan shape is
    identical too: one Arrow-batched Python pass (keys, not strings —
    the shuffle carries 8-byte longs where the chunk variant ships
    n-token strings), ONE uniform key shuffle with an in-place
    ``count() OVER (PARTITION BY key)``, one doc-grain aggregate."""
    ks = rolling_window_keys(docs, id_col, text_col, n)
    nd = F.count("*").over(Window.partitionBy("key"))
    return (
        ks.withColumn("_nd", nd)
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_windows"),
             F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
             .cast("bigint").alias("n_dup"))
        .select(F.col(id_col), "n_windows",
                F.col("n_dup").alias("n_dup_windows"),
                (F.expr("(2*10000*n_dup + n_windows) div (2*n_windows)")
                 .cast("double") / 10000.0).alias("dup_frac"))
    )


def rolling_novelty(docs: DataFrame, id_col: str, text_col: str,
                    n: int = 8) -> DataFrame:
    """Per-doc NOVELTY CONTRIBUTION: the fraction of a doc's n-token
    windows whose corpus-wide FIRST occurrence (min doc id) is this
    doc — the per-document answer to "what does this doc add that the
    corpus (in canonical id order) hasn't already seen?", the
    accounting behind C4/RefinedWeb-style dedup yield reports. A
    perfect copy of an earlier doc scores 0; a fully original doc
    scores 1.

    Returns (id, n_windows, n_novel, novelty_frac) for docs with ≥ n
    tokens; same plan as ``rolling_chunk_stats`` with ``min(id) OVER
    (PARTITION BY key)`` as the in-place election, and the same
    integer half-up fraction."""
    ks = rolling_window_keys(docs, id_col, text_col, n)
    first = F.min(id_col).over(Window.partitionBy("key"))
    return (
        ks.withColumn("_first", first)
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_windows"),
             F.sum(F.when(F.col("_first") == F.col(id_col), 1).otherwise(0))
             .cast("bigint").alias("n_novel"))
        .select(F.col(id_col), "n_windows", "n_novel",
                (F.expr("(2*10000*n_novel + n_windows) div (2*n_windows)")
                 .cast("double") / 10000.0).alias("novelty_frac"))
    )


def chunk_dedup_rewrite(docs: DataFrame, id_col: str, text_col: str,
                        n: int = 8) -> DataFrame:
    """Exact substring-chunk dedup as a corpus REWRITE (Lee et al. 2021
    applied, not just measured — the companion of ``chunk_dup_stats``):
    cut each doc into non-overlapping n-token chunks, keep only each
    distinct chunk's FIRST occurrence corpus-wide (global keep-first by
    (doc id, chunk position) — removes both cross-doc boilerplate and
    within-doc repetition under one rule), and reassemble every doc's
    text from its surviving chunks plus the always-kept <n-token tail.

    Returns (id, n_chunks, n_removed, new_text) for EVERY input doc —
    short docs (< n tokens) pass through with 0 chunks.

    Scale shape: positional chunk rows come from the same Arrow-batched
    Python pass as the other chunkers; first-occurrence election is ONE
    row_number window over the uniform chunk key (the same shuffle
    chunk_dup_stats pays); reassembly is a doc-grain aggregate whose
    per-doc state is the doc's own chunk list — never corpus-sized.
    The tail is a zero-shuffle JVM projection on the base table."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType),
        T.StructField("j", T.LongType()),
        T.StructField("chunk", T.StringType()),
    ])

    def gen(batches):
        for _pdf, toks in _doc_token_batches(batches, id_col, text_col, n):
            ids, js, chs = [], [], []
            for i, tk in toks:
                for j in range(len(tk) // n):
                    ids.append(i)
                    js.append(j)
                    chs.append(" ".join(tk[j * n:(j + 1) * n]))
            yield pd.DataFrame({id_col: ids, "j": js, "chunk": chs})

    ch = (fan_out(docs.select(id_col, text_col))
          .mapInPandas(gen, schema=out_schema))
    rn = F.row_number().over(
        Window.partitionBy("chunk").orderBy(id_col, "j"))
    per_doc = (
        ch.withColumn("_rn", rn)
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_chunks"),
             F.sum(F.when(F.col("_rn") > 1, 1).otherwise(0))
             .cast("bigint").alias("n_removed"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("_rn") == 1,
                                F.struct(F.col("j"), F.col("chunk"))))),
                     lambda s: s["chunk"]),
                 " ").alias("_kept"))
    )
    tok = tokenize(F.col(text_col))
    n_tail = F.size(tok) % n
    base = docs.select(
        F.col(id_col),
        F.when(n_tail > 0,
               F.array_join(F.slice(tok, (F.size(tok) / n).cast("int") * n + 1,
                                    n - 1), " ")).alias("_tail"))
    return (
        base.join(per_doc, id_col, "left")
        .select(F.col(id_col),
                F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
                F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
                F.concat_ws(
                    " ",
                    F.when(F.col("_kept") != "", F.col("_kept")),
                    F.col("_tail")).alias("new_text"))
    )


def contamination_overlap(corpus: DataFrame, probe: DataFrame,
                          id_col: str, text_col: str, n: int = 8,
                          min_overlap: int = 1) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥ ``min_overlap``
    distinct word n-grams with any probe (benchmark/eval) document —
    the n-gram-overlap contamination test used before training-data
    release. Returns (id, n_overlap).

    Scale design: the probe side is an eval suite — MBs, not TBs — so
    its distinct shingle set broadcasts and the corpus NEVER shuffles:
    one map-side hash-join over the corpus scan, then a uniform-key
    groupBy on doc id. ``n`` defaults to 8 (the usual 8-13-gram
    contamination window); callers pick smaller n for fuzzier matching.
    """
    csh = shingle_rows(corpus, id_col, text_col, n)
    psh = shingle_rows(probe, id_col, text_col, n).select("shingle").distinct()
    return (
        csh.join(F.broadcast(psh), "shingle")
        .groupBy(id_col).agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def minhash_signatures(docs: DataFrame, id_col: str, text_col: str,
                       n: int = 5, k: int = MINHASH_K) -> DataFrame:
    """MinHash signature per doc: min over shingles of k affine
    permutations of the 28-bit base hash.

    Computed wholly in-batch (mapInPandas): shingle set, sha-256 base
    hash, then one vectorized (k × n_shingles) affine-mod-min per doc —
    signatures are emitted at DOC grain directly, so there is no
    shingle-row explosion through Arrow and no groupBy shuffle at all
    (the earlier exploded-rows + k-MIN-aggregates form paid both).
    Numerically identical: int64 never overflows (a < 2^25, h < 2^28)
    and the golden test pins it to the pure-Python twin."""
    def shingle_sets(batches):
        for _pdf, toks in _doc_token_batches(batches, id_col, text_col, n):
            yield [(i, {" ".join(tk[j:j + n])
                        for j in range(len(tk) - n + 1)})
                   for i, tk in toks]

    return _minhash_pass(fan_out(docs.select(id_col, text_col)), id_col,
                         k, shingle_sets)


def _minhash_pass(src: DataFrame, id_col: str, k: int,
                  shingle_sets) -> DataFrame:
    """The one MinHash signature kernel: ``shingle_sets(batches)``
    yields, per Arrow batch of ``src``, a list of (id, non-empty
    shingle collection); each doc's signature is the min over its
    shingles' base hashes of the k affine permutations mod
    ``MERSENNE_P``, one vectorized (k × n_shingles) step. Output is
    (id, sig array<bigint>) at doc grain."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    params = _minhash_params(k)
    A = np.array([a for a, _ in params], dtype="int64")[:, None]
    B = np.array([b for _, b in params], dtype="int64")[:, None]

    # one array<bigint> column, NOT k long columns: the narrow schema
    # keeps every downstream plan (band explode, pair joins, estimate)
    # a handful of Column expressions instead of ~200 — measured 2.6s →
    # sub-second builder construction+analysis for q41 at any k
    out_schema = T.StructType([
        T.StructField(id_col, src.schema[id_col].dataType),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])

    def gen(batches):
        for docs in shingle_sets(batches):
            ids: list = []
            sigs: list = []
            for i, sh in docs:
                h = np.fromiter(map(base_hash_py, sh), dtype="int64",
                                count=len(sh))
                sigs.append(((A * h[None, :] + B) % MERSENNE_P).min(axis=1))
                ids.append(i)
            if ids:
                yield pd.DataFrame({id_col: ids, "sig": sigs})

    return src.mapInPandas(gen, schema=out_schema)


def _band_sql(k: int = MINHASH_K, bands: int = LSH_BANDS) -> str:
    """SQL generator over a ``sig`` column yielding one (band, bucket)
    row per band: the bucket key is the band's signature slice joined
    to a string. ``band_rows`` and the stream probe's SQL both embed
    this one text."""
    r = k // bands
    return "inline(array({}))".format(", ".join(
        f"struct({bi} AS band, concat_ws('_', CAST(slice(sig, "
        f"{bi * r + 1}, {r}) AS array<string>)) AS bucket)"
        for bi in range(bands)))


def band_rows(sig: DataFrame, id_col: str, k: int = MINHASH_K,
              bands: int = LSH_BANDS) -> DataFrame:
    """(id, band, bucket) rows from a signature frame (``_band_sql``).
    The (band, bucket) pair is the LSH join key — also the layout of
    the persisted index (operators.dedup_index)."""
    return sig.selectExpr(f"`{id_col}`", _band_sql(k, bands))


def _band_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id1 < id2) pairs of docs sharing any (band, bucket) —
    the one LSH band-collision self-join over (id, band, bucket) rows
    (``band_rows`` output, or the persisted index's band table). The
    join key is (band, bucket), so its shuffle volume is O(docs ×
    bands) whatever the shingle skew; a table bucketed on that key
    joins with no Exchange at all (q187)."""
    a = bands.select("band", "bucket", F.col(id_col).alias("id1"))
    b = bands.select("band", "bucket", F.col(id_col).alias("id2"))
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2").distinct())


def _sig_agreement_sql(a: str, b: str) -> str:
    """Σ [a_i = b_i] over two signature array columns, as SQL text —
    the number of agreeing MinHash components and the ONE copy of the
    Spark agreement count (``_sig_agreement`` wraps it; the estimate
    SQL embeds it). Oracle twin: ``queries.dedup.minhash_eq_sum()``."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x = y AS INT)), "
            f"0, (acc, v) -> acc + v)")


def _sig_agreement(a: str, b: str):
    """``_sig_agreement_sql`` as a Column over two named columns."""
    return F.expr(_sig_agreement_sql(a, b))


def minhash_lsh_pairs(docs: DataFrame, id_col: str, text_col: str,
                      n: int = 5, k: int = MINHASH_K, bands: int = LSH_BANDS,
                      threshold: float = 0.3,
                      arr: DataFrame | None = None) -> DataFrame:
    """MinHash+LSH near-dup pairs — the 100 TB dedup path.

    signatures → per band, bucket key = hash of the band's signature
    slice → candidate pairs are docs sharing any band bucket → estimate
    Jaccard as the fraction of equal signature components → filter.
    The join key is (band, bucket), so shuffle volume is
    O(docs × bands), independent of shingle frequency skew."""
    # localCheckpoint (not cache): materialized once for the three
    # consumers below, reclaimed by GC — cache() would pin executor
    # storage for the session lifetime on every invocation. A caller
    # holding materialized shingle arrays (the session cache) passes
    # ``arr`` and the signatures derive from them — no re-shingling.
    sig = (_signatures_from_shingle_arrays(arr, id_col, k)
           if arr is not None
           else minhash_signatures(docs, id_col, text_col, n, k)) \
        .localCheckpoint()
    cand = _band_pairs(band_rows(sig, id_col, k, bands), id_col)
    return estimate_pairs(cand, sig, id_col, k, threshold)


def _estimate_sql(cand: str, sig: str, id_col: str, k: int,
                  threshold: float) -> str:
    """The estimate step as SQL text over a candidate (id1, id2)
    relation ``cand`` and an (id, sig) relation ``sig``: the fraction
    of agreeing components, rounded to 4dp, kept when ≥ threshold. The
    divisor and threshold are DOUBLE literals (``32D``): a plain
    ``32.0`` parses as DECIMAL and would turn the estimate into one."""
    agree = _sig_agreement_sql("s1.sig", "s2.sig")
    return f"""SELECT id1, id2, jaccard_est FROM (
      SELECT c.id1, c.id2, round({agree} / {k}D, 4) AS jaccard_est
      FROM {cand} c
      JOIN {sig} s1 ON c.id1 = s1.`{id_col}`
      JOIN {sig} s2 ON c.id2 = s2.`{id_col}`)
    WHERE jaccard_est >= {float(threshold)!r}D"""


def estimate_pairs(cand: DataFrame, sig: DataFrame, id_col: str,
                   k: int = MINHASH_K,
                   threshold: float = 0.3) -> DataFrame:
    """Estimated Jaccard for candidate (id1, id2) pairs from a
    signature frame (``_estimate_sql``), as (id1, id2, jaccard_est).
    Shared by the batch-global pipeline and the incremental index
    (operators.dedup_index) so the two stay estimate-identical by
    construction. One SQL text: the frames enter as temp views of
    ``cand``'s session, so both must belong to it.

    Interpreted HOF, but only over the candidate pairs (bounded by the
    band collisions — hundreds of rows, never the corpus), so the
    keep-hot-loops-in-numpy rule doesn't bite here."""
    return cand.sparkSession.sql(
        _estimate_sql("{cand}", "{sig}", id_col, k, threshold),
        cand=cand, sig=sig)


def minhash_containment_pairs(docs: DataFrame, id_col: str,
                              text_col: str, n: int = 5,
                              k: int = MINHASH_K, bands: int = LSH_BANDS,
                              threshold: float = 0.5,
                              arr: DataFrame | None = None) -> DataFrame:
    """SCALE path of ``containment_pairs``: estimated containment over
    MinHash+LSH candidates. From Ĵ = eq/k and the EXACT per-doc set
    sizes (a zero-shuffle ``F.size`` projection — sizes are cheap; the
    intersection is what's expensive), invert Broder's identity
    I = J·(n1+n2)/(1+J) to get

        Ĉ(1→2) = eq·(n1+n2) / ((k+eq)·n1)

    an EXACT integer rational — numerator/denominator are int64, so
    the ≥ threshold filter (``2·num ≥ den`` at t=0.5) and the 4dp
    half-up quantization are bit-identical in both engines, with no
    float division anywhere.

    Same recall caveat as every LSH path: pairs no band surfaces stay
    missed; the banding is tuned for the Jaccard curve, so HIGH
    containment with very asymmetric sizes (tiny excerpt in a huge
    doc ⇒ low J) is exactly where candidates get lost — the docstring
    of the exact operator explains why that regime needs the
    prefix-filter or a containment-specific banding (divide sketches,
    Agrawal et al.). Returns (id1, id2, c12_est, c21_est) for
    ``max(Ĉ12, Ĉ21) ≥ threshold``."""
    if arr is None:
        arr = doc_shingle_arrays(docs, id_col, text_col, n) \
            .localCheckpoint()
    sig = _signatures_from_shingle_arrays(arr, id_col, k).localCheckpoint()
    cand = _band_pairs(band_rows(sig, id_col, k, bands), id_col)
    s1 = sig.select(F.col(id_col).alias("id1"), F.col("sig").alias("a_sig"))
    s2 = sig.select(F.col(id_col).alias("id2"), F.col("sig").alias("b_sig"))
    sizes = arr.select(F.col(id_col), F.size("shingles").alias("_n"))
    sa = sizes.withColumnRenamed(id_col, "id1").withColumnRenamed("_n", "n1")
    sb = sizes.withColumnRenamed(id_col, "id2").withColumnRenamed("_n", "n2")
    eq = _sig_agreement("a_sig", "b_sig")
    num = (eq * (F.col("n1") + F.col("n2"))).cast("bigint")
    den1 = ((eq + F.lit(k)) * F.col("n1")).cast("bigint")
    den2 = ((eq + F.lit(k)) * F.col("n2")).cast("bigint")
    half_up = lambda nm, dn: (  # noqa: E731 - shared 4dp device
        F.expr(f"(2 * 10000 * {nm} + {dn}) div (2 * {dn})")
        .cast("double") / 10000.0)
    return (
        cand.join(s1, "id1").join(s2, "id2").join(sa, "id1").join(sb, "id2")
        .withColumn("_num", num).withColumn("_d1", den1)
        .withColumn("_d2", den2)
        # cmax ≥ t ⟺ num ≥ t·min(den): integers both sides, so the
        # epsilon guard only matters for a t whose product lands
        # within 1e-9 of an integer (t = 0.5 is exact: 2·num ≥ den)
        .filter(F.col("_num").cast("double")
                >= F.lit(float(threshold))
                * F.least("_d1", "_d2").cast("double") - F.lit(1e-9))
        .select("id1", "id2",
                half_up("_num", "_d1").alias("c12_est"),
                half_up("_num", "_d2").alias("c21_est"))
    )


def _signatures_from_shingle_arrays(arr: DataFrame, id_col: str,
                                    k: int = MINHASH_K) -> DataFrame:
    """``minhash_signatures``' exact math over PRECOMPUTED doc-grain
    shingle arrays (``doc_shingle_arrays`` output) — lets a caller that
    already materialized the arrays (the two-tier verify) derive
    signatures without re-running the regex shingler over the corpus.
    Pinned bit-equal to ``minhash_signatures`` by tests/test_dedup.py."""
    def shingle_sets(batches):
        for pdf in batches:
            yield [(i, sh) for i, sh in zip(pdf[id_col], pdf["shingles"])
                   if len(sh)]

    # no fan_out here (r12, A/B'd — see pair_intersection_table):
    # repartitioning the shingle-array payload costs more than the
    # few-task Python pass it would parallelize (q41 1.21s -> 1.76s)
    return _minhash_pass(arr, id_col, k, shingle_sets)


def lsh_candidate_pairs_from_arrays(arr: DataFrame, id_col: str,
                                    k: int = MINHASH_K,
                                    bands: int = LSH_BANDS) -> DataFrame:
    """Distinct banded-LSH band-collision candidate pairs (id1 < id2)
    over precomputed doc-grain shingle arrays — the candidate
    GENERATION half of ``verified_near_dup_pairs``, factored out so a
    session can materialize the candidate table once (the production
    pipeline writes it per corpus snapshot) while each verify pass
    stays per-call. Signatures and banding are per-doc properties, so
    the pair set is a pure function of (arr, k, bands)."""
    sig = _signatures_from_shingle_arrays(arr, id_col, k).localCheckpoint()
    return _band_pairs(band_rows(sig, id_col, k, bands), id_col)


def verified_near_dup_pairs(docs: DataFrame, id_col: str, text_col: str,
                            n: int = 5, threshold: float = 0.3,
                            k: int = MINHASH_K,
                            bands: int = LSH_BANDS,
                            arr: DataFrame | None = None,
                            cand: DataFrame | None = None) -> DataFrame:
    """Two-tier near-dup detection — the production pipeline shape:
    sub-quadratic MinHash+LSH candidate generation, then EXACT n-gram
    Jaccard computed only over the candidate pairs. Every emitted pair
    carries the TRUE Jaccard (no estimate error, unlike
    ``minhash_lsh_pairs``); pairs LSH never surfaces stay missed — the
    documented recall trade of banding, tested in tests/test_dedup.py.

    Scale design: candidates come from the (band, bucket) collision
    join (shuffle O(docs × bands), skew-immune); the exact verify then
    joins the doc-grain shingle ARRAYS for candidate ids only and
    intersects them with the built-in ``array_intersect`` (JVM
    collection function, no lambda HOF) — candidate-scale work, never
    the corpus-wide shingle self-join of ``ngram_jaccard_pairs``.

    The corpus is Python-shingled exactly ONCE: the doc-grain arrays
    are checkpointed first and the MinHash signatures derive from them
    (``_signatures_from_shingle_arrays``) instead of re-shingling
    inside ``minhash_signatures``.

    ``cand`` — optional pre-materialized candidate-pair table (the
    ``lsh_candidate_pairs_from_arrays`` output, e.g. a session memo):
    the verify pass — the per-query work of the two-tier shape — then
    runs without re-deriving signatures or re-banding."""
    # doc-grain arrays checkpointed once: they feed the signature
    # derivation AND the two verify-join branches (id1 side, id2 side)
    if arr is None:
        arr = doc_shingle_arrays(docs, id_col, text_col, n).localCheckpoint()
    if cand is None:
        cand = lsh_candidate_pairs_from_arrays(arr, id_col, k, bands)
    a1 = arr.select(F.col(id_col).alias("id1"), F.col("shingles").alias("s1"))
    a2 = arr.select(F.col(id_col).alias("id2"), F.col("shingles").alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size("s1") + F.size("s2") - inter
    jac = F.when(union != 0, inter / union)  # ANSI guard; union ≥ 1 here
    return (
        cand.join(a1, "id1").join(a2, "id2")
        .filter(jac >= threshold)
        .select("id1", "id2", F.round(jac, 4).alias("jaccard"))
    )


def prefix_filter_jaccard_pairs(docs: DataFrame, id_col: str,
                                text_col: str, n: int = 5,
                                threshold: float = 0.8,
                                arr: DataFrame | None = None) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs via prefix filtering (PPJoin;
    Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07 / Xiao et al.
    WWW'08) — a third, independent plan for the same answer as
    ``ngram_jaccard_pairs``, built for HIGH thresholds where it prunes
    hardest.

    Principle: order every doc's shingle set by one global total order
    (document frequency ascending, hash tiebreak — rarest first) and
    keep only the first ``p = |s| − ⌈t·|s|⌉ + 1`` shingles (the
    *prefix*). Any pair with Jaccard ≥ t must share at least one prefix
    shingle under a common order, so joining on prefix shingles alone
    is LOSSLESS — at t = 0.8 the join touches ~20% of shingle rows, and
    rare-first ordering makes the join key maximally selective (the
    exact inverse of the hot-shingle problem the q40 df-cutoff guards).

    Two further PPJoin filters run ON THE JOIN ROWS, before the
    candidate ``distinct``:

    * **length filter** — J(x,y) ≥ t requires t·|x| ≤ |y| and
      t·|y| ≤ |x|; carried set sizes make it a row predicate.
    * **positional filter** — a prefix shingle matching at 1-based
      ranks (i, j) bounds the overlap by
      ``min(i−1, j−1) + 1 + min(|x|−i, |y|−j)`` (everything left of the
      match that could match, the match, everything right of it).
      J ≥ t needs overlap ≥ α = ⌈t/(1+t)·(|x|+|y|)⌉, and the bound
      holds for EVERY matched row, so rows with bound < α are dropped
      losslessly.

    Ceilings subtract 1e-9 before ``F.ceil`` so an IEEE product that
    lands epsilon ABOVE an exact integer (0.8·35 = 28.000…004) can't
    round the prefix short or the overlap target high — either would
    silently drop true pairs.

    Plan: doc-grain shingle arrays (one Python pass — or zero, when the
    caller passes the session-cached ``arr``) → exploded 64-bit keys →
    df counts (one uniform-key shuffle, map-side combined) → per-doc
    rank-and-slice (one groupBy; the sort is over ONE doc's shingles,
    never a global order-by) → prefix self-join with length+positional
    row filters → exact ``array_intersect`` verify on candidates only.
    Like ``verified_near_dup_pairs`` the verify is candidate-scale;
    unlike LSH there is no recall loss and no estimate error. The
    64-bit collision caveat of ``ngram_jaccard_pairs`` applies
    identically (candidate generation in hash space can only widen the
    candidate set; the string-array verify makes the final answer
    exact)."""
    eps = 1e-9
    if arr is None:
        arr = (doc_shingle_arrays(docs, id_col, text_col, n)
               .localCheckpoint(eager=False))
    sh = (arr.select(F.col(id_col), F.explode("shingles").alias("shingle"))
          .select(F.col(id_col), F.xxhash64("shingle").alias("_sh")))
    # document frequency in place: count() OVER (PARTITION BY _sh) is
    # ONE uniform-key shuffle of the shingle rows, where the
    # aggregate-then-join form pays that shuffle twice plus a
    # vocabulary-sized join (chunk_dup_stats uses the same device).
    # Then rank each doc's shingles rare-first and keep the prefix:
    # the (df, hash) struct sort is per-doc (bounded by doc length);
    # the slice length comes from the doc's own set size
    wdf = Window.partitionBy("_sh")
    ranked = (sh.withColumn("_df", F.count("*").over(wdf))
              .groupBy(id_col)
              .agg(F.array_sort(F.collect_list(
                  F.struct(F.col("_df"), F.col("_sh")))).alias("_rk")))
    plen = (F.size("_rk")
            - F.ceil(F.size("_rk") * F.lit(float(threshold)) - eps)
            .cast("int") + F.lit(1))
    prefix = (ranked.select(F.col(id_col),
                            F.size("_rk").alias("_sz"),
                            F.posexplode(F.slice("_rk", 1, plen))
                            .alias("_pos", "_p"))
              .select(F.col(id_col), "_sz",
                      (F.col("_pos") + 1).alias("_i"),
                      F.col("_p._sh").alias("_sh")))
    t_ = F.lit(float(threshold))
    sza, szb = F.col("a._sz"), F.col("b._sz")
    ia, ib = F.col("a._i"), F.col("b._i")
    overlap_ub = (F.least(ia - 1, ib - 1) + 1
                  + F.least(sza - ia, szb - ib))
    alpha = F.ceil(t_ / (F.lit(1.0) + t_) * (sza + szb) - eps)
    cand = (
        prefix.alias("a").join(prefix.alias("b"), "_sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter((szb >= t_ * sza - eps) & (sza >= t_ * szb - eps))
        .filter(overlap_ub >= alpha)
        .select(F.col(f"a.{id_col}").alias("id1"),
                F.col(f"b.{id_col}").alias("id2"))
        .distinct()
    )
    a1 = arr.select(F.col(id_col).alias("id1"), F.col("shingles").alias("s1"))
    a2 = arr.select(F.col(id_col).alias("id2"), F.col("shingles").alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2"))
    union = F.size("s1") + F.size("s2") - inter
    jac = F.when(union != 0, inter / union)  # ANSI guard; union ≥ 1 here
    return (
        cand.join(a1, "id1").join(a2, "id2")
        .filter(jac >= threshold)
        .select("id1", "id2", F.round(jac, 4).alias("jaccard"))
    )


def simhash_pairs(docs: DataFrame, id_col: str, text_col: str,
                  bits: int = 32, bands: int = 4,
                  max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup PAIRS — the pair-generation half q42's
    fingerprints exist for (Charikar'02 / Manku et al. WWW'07, the
    Google web-dedup recipe): band each fingerprint into ``bands``
    equal bit slices and join on any equal slice; by pigeonhole a pair
    with hamming distance ≤ bands−1 shares at least one identical
    band, so candidate generation is LOSSLESS for
    ``max_hamming ≤ bands−1`` (asserted). Candidates are then verified
    with the exact popcount of the XOR — both engines' ``bit_count``.

    Returns (id1, id2, hamming ≤ max_hamming), each pair exactly once.
    Scale shape is exactly MinHash-LSH's: shuffle key (band,
    slice-value), never the raw fingerprint; the verify join touches
    candidates only. Pair dedup is the FIRST-MATCHING-BAND rule — a
    pair sharing several bands is kept only in the lowest one, decided
    by a pure expression over the XOR of the two fingerprints — so no
    DISTINCT shuffle exists at all (r8: the distinct over the
    multi-band candidate fan-out was 6 of q149's 6.4 cold seconds; a
    filter costs nothing and needs no exchange). Skewed bands (e.g. an
    all-zeros slice over short docs) fan out like hot LSH buckets —
    the same salting/cutoff remedies apply."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with {bands} bands only guarantees recall for "
            f"hamming <= {bands - 1}, got max_hamming={max_hamming}")
    if bits % bands:
        raise ValueError(f"bits {bits} not divisible by {bands} bands")
    width = bits // bands
    mask = (1 << width) - 1
    fp = simhash(docs, id_col, text_col, bits).localCheckpoint(eager=False)
    bexpr = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright("simhash", b * width).bitwiseAND(mask)
                 .alias("bv"))
        for b in range(bands)])).alias("s")
    bb = fp.select(F.col(id_col), bexpr).select(
        id_col, F.col("s.band").alias("band"), F.col("s.bv").alias("bv"))
    cand = (
        bb.alias("a").join(bb.alias("b"), ["band", "bv"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id1"),
                F.col(f"b.{id_col}").alias("id2"), "band")
    )
    f1 = fp.select(F.col(id_col).alias("id1"), F.col("simhash").alias("_h1"))
    f2 = fp.select(F.col(id_col).alias("id2"), F.col("simhash").alias("_h2"))
    # the lowest band whose slices agree ⇔ lowest zero slice of the
    # XOR; every candidate row knows its own band, so equality with
    # the first match keeps exactly one row per pair
    first_band = "CASE " + " ".join(
        f"WHEN (shiftright(_h1 ^ _h2, {b * width}) & {mask}) = 0 "
        f"THEN {b}" for b in range(bands)) + " END"
    return (
        cand.join(f1, "id1").join(f2, "id2")
        .filter(F.expr(f"band = ({first_band})"))
        .select("id1", "id2",
                F.expr("CAST(bit_count(_h1 ^ _h2) AS BIGINT)")
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash(docs: DataFrame, id_col: str, text_col: str,
            bits: int = 32) -> DataFrame:
    """SimHash fingerprint per doc over token base-hashes (bits ≤ 28 are
    real hash bits; default 32 keeps the aggregate narrow while the
    base hash supplies 28 — the top 4 are zero and harmless).

    Exploded tokens → per-bit signed votes summed in one groupBy → bit
    reassembly. Near-dup = small hamming distance; pair generation would
    band the bits exactly like MinHash-LSH."""
    tok = tokenize(F.col(text_col))
    rows = (
        fan_out(docs.select(id_col, text_col))
        .select(F.col(id_col), F.explode(F.array_distinct(tok)).alias("_t"))
        .withColumn("_h", base_hash_col(F.col("_t")))
    )
    # per-bit expressions as SQL strings, ONE py4j parse each: the
    # Column-algebra form (shiftright→bitwiseAND→when→otherwise→alias
    # per bit) cost ~6 py4j round trips × bits and dominated q149's
    # cold time — ~2 s of pure plan construction at bits=28 (r8
    # profile; the JVM parses a string expression in microseconds)
    votes = rows.groupBy(id_col).agg(*[
        F.expr(f"sum(CASE WHEN (shiftright(_h, {i}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS v{i}")
        for i in range(bits)
    ])
    fp = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(bits))
    return votes.select(
        F.col(id_col), F.expr(f"CAST({fp} AS BIGINT) AS simhash"))


def contamination_overlap_bloom(corpus: DataFrame, probe: DataFrame,
                                id_col: str, text_col: str, n: int = 8,
                                expected_items: int = 1 << 20,
                                fpp: float = 0.01) -> DataFrame:
    """Bloom-filter form of :func:`contamination_overlap` — the probe
    shingle set compressed into a bloom filter instead of a broadcast
    hash set. Returns candidate (id, n_overlap) rows: a SUPERSET of the
    exact operator's output (bloom filters have false positives, never
    false negatives), to be confirmed by the exact join on the
    candidates only.

    When it matters: the exact path broadcasts the probe's distinct
    shingles — fine for an eval SUITE (MBs), but decontaminating
    against another CORPUS (held-out validation shards at TB scale)
    needs a probe structure whose size is FIXED by (expected_items,
    fpp) regardless of probe cardinality: ~1.2 MB per million items at
    1% fpp, vs hundreds of MBs of raw shingles.

    Implementation is pure DataFrame algebra (Spark keeps its
    BloomFilter aggregate internal to runtime join pruning, and a
    driver-side ``stat.bloomFilter`` object would put the build on one
    machine): the filter is a TABLE (word_idx, 64-bit word) built by
    exploding each probe shingle's k = ln2·m/n hash positions
    (``xxhash64(shingle, i)`` per hash index) and ``bit_or``-folding
    masks per word — fully distributed, map-side combined, m/64 rows.
    Membership is k broadcast hash joins on the corpus scan (one per
    hash index, each a map-side lookup + bit test, no shuffle, all
    codegen'd); a shingle is a candidate iff every bit is set. The
    corpus side still never shuffles except the final per-doc count on
    its uniform id key."""
    n_bits = max(64, int(-expected_items * math.log(fpp)
                         / (math.log(2) ** 2)))
    n_words = (n_bits + 63) // 64
    n_bits = n_words * 64
    k = max(1, round(n_bits / expected_items * math.log(2)))

    def pos(i):
        return F.pmod(F.xxhash64("shingle", F.lit(i)), F.lit(n_bits))

    bitmap = (
        shingle_rows(probe, id_col, text_col, n)
        .select(F.explode(F.array(*[pos(i) for i in range(k)])).alias("_p"))
        .select(F.expr("_p div 64").alias("_w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(_p % 64 AS INT))").alias("_m"))
        .groupBy("_w").agg(F.bit_or("_m").alias("_bits"))
    )
    cand = shingle_rows(corpus, id_col, text_col, n)
    hit = F.lit(True)
    for i in range(k):
        bm = bitmap.select(F.col("_w").alias(f"_w{i}"),
                           F.col("_bits").alias(f"_b{i}"))
        cand = (cand.withColumn(f"_p{i}", pos(i))
                .withColumn(f"_w{i}", F.expr(f"_p{i} div 64"))
                .join(F.broadcast(bm), f"_w{i}", "left"))
        # & 1, NOT % 2: a word with bit 63 set is negative, and after a
        # zero shift `% 2` follows the dividend's sign (-1) — a false
        # negative on exactly the bit-0-of-a-negative-word case
        bit_set = F.expr(f"(shiftrightunsigned(_b{i}, "
                         f"CAST(_p{i} % 64 AS INT)) & 1) = 1")
        hit = hit & F.col(f"_b{i}").isNotNull() & bit_set
    return (
        cand.filter(hit)
        .groupBy(id_col).agg(F.count("*").alias("n_overlap"))
    )
