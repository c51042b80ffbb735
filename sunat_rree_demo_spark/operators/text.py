"""Text-analysis operators for LLM-data pipelines (SURVEY.md §7.4 /
driver mandate; no reference counterpart — the reference's only text ops
are the X1-X4 scalar family).

All core paths are pure Column expressions (split/array HOFs — JVM-side,
codegen'd); nothing here drops to Python. Token model: whitespace
tokenization via regex split, shared verbatim with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: tiny deterministic stopword lists for the language-ID heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")
ES_STOPWORDS = ("el", "la", "de", "que", "y", "los", "en")

TOKEN_PATTERN = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenizer (shared semantics with DuckDB
    ``string_split_regex(trim(x), '\\s+')``)."""
    return F.split(F.trim(text), TOKEN_PATTERN)


def token_count(text: Column) -> Column:
    """Token counting — BIGINT for oracle type parity."""
    return F.size(tokens(text)).cast("bigint")


def unique_token_ratio(tok: Column) -> Column:
    """Lexical diversity: |distinct tokens| / |tokens|."""
    return F.size(F.array_distinct(tok)).cast("double") / F.size(tok).cast("double")


def quality_score(tok: Column, target_len: int = 100) -> Column:
    """Quality scoring: 0..1 blend of lexical diversity and a length
    prior (docs shorter than ``target_len`` tokens are penalized
    linearly). Deterministic, SQL-expressible, trivially extendable with
    punctuation/stopword ratios."""
    diversity = unique_token_ratio(tok)
    length_prior = F.least(F.size(tok).cast("double") / float(target_len), F.lit(1.0))
    return F.round(0.5 * diversity + 0.5 * length_prior, 4)


def lang_id(tok: Column) -> Column:
    """Language-ID heuristic: stopword-overlap vote (n-gram-free variant;
    a real model would be a pandas UDF — this stays JVM-side). Spanish
    wins ties toward 'es' only when no English stopword is present."""
    en = F.arrays_overlap(tok, F.array(*[F.lit(w) for w in EN_STOPWORDS]))
    es = F.arrays_overlap(tok, F.array(*[F.lit(w) for w in ES_STOPWORDS]))
    return (
        F.when(en, F.lit("en"))
        .when(es, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


#: Redaction patterns — written to the common subset of Java regex
#: (Spark) and RE2 (DuckDB), so the oracle twin runs them verbatim.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def pattern_count(text: Column, pattern: str) -> Column:
    """How many non-overlapping matches of ``pattern`` — BIGINT for
    oracle type parity (DuckDB ``len(regexp_extract_all(...))``)."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))).cast("bigint")


def redact(text: Column, patterns: dict[str, str]) -> Column:
    """Replace every match of each pattern with its token, applied in
    dict order (the oracle nests ``regexp_replace(..., 'g')`` in the
    same order). Pure Column expression — the scrub stays JVM-side and
    codegen'd at any corpus size."""
    out = text
    for pattern, token in patterns.items():
        out = F.regexp_replace(out, pattern, token)
    return out


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed
    whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def hash_split(id_col: Column, train_pct: int = 80,
               val_pct: int = 10) -> Column:
    """Deterministic train/validation/test assignment by sha-256 bucket
    of the id — content-stable, no RNG state, identical on any engine /
    partitioning / run. The single source of the split recipe: q62 and
    plans.curate must agree doc-for-doc (DuckDB twin:
    ``('0x' || substring(sha256(CAST(id AS VARCHAR)),1,7))::BIGINT %
    100`` against the same boundaries)."""
    bucket = (
        F.conv(F.substring(F.sha2(id_col.cast("string"), 256), 1, 7),
               16, 10).cast("bigint") % 100
    )
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


def sample_bucket(id_col: Column, salt: str = "sample") -> Column:
    """Uniform bucket in [0, 1e6) from sha-256 of ``salt:id`` — the
    sampling twin of ``hash_split``'s bucket, with a distinct domain
    separator so sampling decisions are independent of split
    assignment (same id, different hash input). 12 leading hex chars
    (48 bits) keep the modulo bias below 3e-9. DuckDB twin:
    ``('0x' || substring(sha256('salt:' || CAST(id AS VARCHAR)), 1, 12))
    ::UBIGINT % 1000000``."""
    return (
        F.conv(F.substring(F.sha2(F.concat(F.lit(salt + ":"),
                                           id_col.cast("string")), 256),
                           1, 12), 16, 10).cast("bigint") % 1000000
    )


def stratified_sample(df, id_col: str, strata_col: str,
                      rates_ppm: dict[str, int], default_ppm: int = 0,
                      salt: str = "sample"):
    """Deterministic per-stratum downsampling: keep a row iff its
    ``sample_bucket`` falls under its stratum's rate (parts-per-million
    integers — exact on any engine, no float thresholds). The
    training-data mixing op: e.g. downsample the dominant language,
    keep rare ones whole.

    Scale design: PURE map-side — a CASE over the stratum column plus a
    hash of the id, no shuffle, no state, and the filter sits directly
    on the scan so column pruning and predicate pushdown still apply.
    Content-stable across runs, engines, and partitionings (no RNG —
    ``df.sample`` is seed-and-partitioning dependent, which a
    reproducible corpus recipe can't tolerate)."""
    thresh = F.lit(default_ppm)
    for stratum in sorted(rates_ppm):  # deterministic CASE order
        thresh = F.when(F.col(strata_col) == stratum,
                        F.lit(rates_ppm[stratum])).otherwise(thresh)
    return df.filter(sample_bucket(F.col(id_col), salt) < thresh)


def pack_sequences(df, id_col: str, text_col: str,
                   budget: int = 256, shards: int = 16,
                   partition_by: tuple[str, ...] = ()):
    """Concat-and-chunk sequence packing: lay the token stream of each
    shard's docs (id order) end to end and cut it into fixed
    ``budget``-token training chunks; per doc, emit the first chunk it
    lands in and how many chunks it spans. This is the
    split-documents-allowed packing used for LLM pretraining batches
    (greedy no-split bin packing is inherently sequential; the
    concat-and-chunk form is exact, deterministic, and windowable).

    Scale design: one shuffle to ``shards`` hash shards (id % shards),
    one sort per shard (the window). Shard count is the number of
    output training files — thousands at warehouse scale, so each sort
    covers corpus/shards rows and no global ordering is ever built.
    All arithmetic is integer (exact on both engines).

    ``partition_by`` prepends extra columns of ``df`` to the chunk
    partitioning — e.g. ``("split",)`` so train/validation/test docs
    pack into DISJOINT chunk streams and no training chunk straddles
    eval tokens."""
    from pyspark.sql import Window

    keys = [*partition_by, "shard"]
    tok = token_count(F.col(text_col))
    w = (Window.partitionBy(*keys).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        df.select(F.col(id_col), *partition_by, tok.alias("n_tokens"),
                  (F.col(id_col) % shards).alias("shard"))
        .withColumn("_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            id_col, *keys, "n_tokens",
            F.expr(f"_off div {budget}").alias("first_chunk"),
            (F.expr(f"(_off + n_tokens - 1) div {budget}")
             - F.expr(f"_off div {budget}") + 1).alias("n_chunks"),
        )
    )


def repetition_signals(df, id_col: str, text_col: str):
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 — the "repetition" family of the quality filters used to
    clean MassiveText/C4): duplicate-token fraction (1 − |distinct|/|n|)
    and the fraction of adjacent-bigram slots (n−1 of them) occupied by
    the single most frequent bigram — both in [0, 1]. High values flag
    boilerplate / spam / degenerate generations.

    Returns (id, n_tokens, dup_token_frac, top_bigram_frac).

    Scale design: the unigram side is pure array expressions on the scan
    (no shuffle). The bigram side explodes to token grain and shuffles
    on the document id — a high-cardinality, corpus-proportional key, so
    it partitions evenly at any size; the adjacent-pair construction is
    a ``lead`` window inside that same partitioning (no extra exchange)
    and the two aggregations share the ``id`` shuffle via partial
    aggregation. No per-doc state ever exceeds one document's tokens.
    """
    from pyspark.sql import Window

    tok = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(tok).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("bigint").alias("_n_distinct"),
        tok.alias("_toks"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    bigram_max = (
        base.select(id_col, F.posexplode("_toks").alias("_pos", "_tok"))
        .withColumn("_next", F.lead("_tok").over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(id_col, F.concat_ws(" ", "_tok", "_next").alias("_bigram"))
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_max_bg"))
    )
    return (
        base.drop("_toks")
        .join(bigram_max, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            # n_tokens >= 1 today (split('') yields ['']), but the
            # ANSI guard must not depend on that tokenizer quirk
            F.when(F.col("n_tokens") > 0,
                   F.round(1.0 - F.col("_n_distinct").cast("double")
                           / F.col("n_tokens").cast("double"), 4))
            .otherwise(F.lit(0.0)).alias("dup_token_frac"),
            F.when(F.col("n_tokens") > 1,
                   F.round(F.coalesce(F.col("_max_bg"), F.lit(0))
                           .cast("double")
                           / (F.col("n_tokens") - 1).cast("double"), 4))
            .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def unigram_surprisal(df, id_col: str, text_col: str):
    """Per-document mean unigram surprisal (bits/token) against the
    corpus's own unigram LM — the cheap perplexity proxy used to rank
    documents for quality-based selection (cf. CCNet's LM filtering,
    Wenzek et al. 2020, with the corpus itself as the model).

    Returns (id, n_tokens, avg_surprisal) where surprisal of token t is
    −log2(count(t)/Σcounts). Per-token surprisal is quantized to
    INTEGER micro-bits before summing: a float mean of per-token
    doubles differs across engines in the last ULP of the SUM (addend
    order), which flipped a 4dp rounding boundary once per ~500 docs —
    integer addends make the aggregate exact and order-free. The final
    4dp mean is ALSO rounded in integer arithmetic
    (``(2·Σ + d) div 2d``, half-up): a doc whose mean lands exactly on
    a .00005 decimal boundary (measured: Σ=48896500 over 10 tokens)
    rounds differently under Spark's BigDecimal-of-string HALF_UP vs
    DuckDB's binary-double rounding, so neither engine's float
    ``round`` may touch it.

    Scale design: token grain shuffles twice — once on the token to
    build the frequency table (vocab-sized output, Zipf-concentrated
    but map-side combine absorbs the head), once on the doc id for the
    per-doc mean. The frequency side joins back at token grain; the
    vocabulary is orders of magnitude smaller than the corpus, so AQE
    picks a broadcast when it fits and the total-token count rides a
    broadcast 1-row frame (same shape as q51's document count — no
    eager ``.count()`` on the driver)."""
    tk = df.select(F.col(id_col),
                   F.explode(tokens(F.col(text_col))).alias("_tok"))
    freq = tk.groupBy("_tok").agg(F.count("*").alias("_c"))
    total = freq.agg(F.sum("_c").alias("_n"))
    return (
        tk.join(freq, "_tok")
        .join(F.broadcast(total))
        .select(id_col,
                F.round(-F.log2(F.col("_c").cast("double")
                                / F.col("_n").cast("double"))
                        * 1000000.0, 0).cast("bigint")
                .alias("_ubits"))
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_tokens"),
             F.sum("_ubits").alias("_ub"))
        # half-up integer rounding of _ub/(100·n) → 1e-4 bit units
        .select(id_col, "n_tokens",
                (F.expr("(2 * _ub + 100 * n_tokens) div (200 * n_tokens)")
                 .cast("double") / 10000.0).alias("avg_surprisal"))
    )


def importance_weights(df, id_col: str, text_col: str, target: Column,
                       n_buckets: int = 256,
                       keep_cols: tuple[str, ...] = ()):
    """DSIR-style importance weights (Xie et al. 2023,
    arXiv:2302.03169): mean log₂-likelihood ratio of each document's
    hashed token features under the TARGET distribution (rows where
    ``target`` is true) vs the RAW corpus, Laplace-smoothed. The
    data-selection score that decides what to upsample into a
    pretraining mix; positive ⇒ looks like the target.

    Returns (id, *keep_cols, n_tokens, avg_log_ratio).

    Determinism/parity (q80's oracle re-derives all of it in SQL): the
    feature hash is the sha-256-prefix device; per-BUCKET weights are
    quantized to integer micro-bits once so per-doc sums are exact;
    the 4dp mean uses shifted half-up integer rounding (+64 bits keeps
    the dividend positive, where Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree).

    Scale shape: token grain shuffles once to bucket grain (n_buckets
    keys, map-side combined) and once on the doc id; the bucket weight
    table broadcasts back onto the token stream; totals ride broadcast
    1-row frames. No driver collect."""
    tk = (
        df.select(F.col(id_col), *keep_cols, target.alias("_is_target"),
                  F.explode(tokens(F.col(text_col))).alias("_tok"))
        .select(id_col, *keep_cols, "_is_target",
                (F.conv(F.substring(
                    F.sha2(F.concat(F.lit("feat:"), F.col("_tok")), 256),
                    1, 12), 16, 10).cast("bigint")
                 % n_buckets).alias("b"))
    )
    cr = tk.groupBy("b").agg(F.count("*").alias("crn"))
    ct = (tk.filter(F.col("_is_target"))
          .groupBy("b").agg(F.count("*").alias("ctn")))
    nr = cr.agg(F.sum("crn").alias("nr"))
    nt = ct.agg(F.sum("ctn").alias("nt"))
    nb = float(n_buckets)
    wt = (
        cr.join(ct, "b", "left").na.fill({"ctn": 0})
        .join(F.broadcast(nr)).join(F.broadcast(nt))
        # coalesce nt: a target predicate matching ZERO rows aggregates
        # to one NULL, which would cascade into NULL weights and turn a
        # downstream >= filter into a silent drop-everything; with 0 the
        # math stays total (uniformly negative weights for common
        # tokens — visibly "nothing looks like the target", not NULL)
        .select("b", F.round(F.log2(
            ((F.col("ctn") + 1.0) / (F.col("crn") + 1.0))
            * ((F.col("nr") + nb)
               / (F.coalesce(F.col("nt"), F.lit(0)) + nb)))
            * 1000000.0, 0).cast("bigint").alias("w"))
    )
    return (
        tk.join(F.broadcast(wt), "b")
        .groupBy(id_col, *keep_cols)
        .agg(F.count("*").alias("n_tokens"), F.sum("w").alias("_ub"))
        .select(id_col, *keep_cols, "n_tokens",
                (F.expr("(2 * (_ub + n_tokens * 64000000) + 100 * n_tokens)"
                        " div (200 * n_tokens)").cast("double") / 10000.0
                 - 64.0).alias("avg_log_ratio"))
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: sha-256 of the normalized text (content-
    addressed identity; the hash both engines share — see also the
    rolling/simhash fingerprints in operators.dedup for near-dup use)."""
    return F.sha2(normalize_text(text), 256)


def bpe_merge_rounds(docs, id_col: str, text_col: str,
                     rounds: int = 3):
    """Distributed BPE merge mining (Sennrich et al. 2016, 'Neural
    Machine Translation of Rare Words with Subword Units'): run the
    first ``rounds`` byte-pair-encoding training steps over the corpus
    and emit one row per learned merge — (merge_round, left_sym,
    right_sym, merged, pair_count). Each round counts adjacent symbol
    pairs across the word vocabulary (weighted by word frequency),
    picks the most frequent pair with a (count DESC, left, right)
    total-order tiebreak, and merges every occurrence of that pair —
    leftmost-first within a word, the textbook BPE semantics.

    Representation trick shared verbatim with the SQL oracle: a word's
    symbol sequence is one string with TWO spaces between symbols and
    two at each boundary (``'  a  b  c  '``). A merge is then plain
    non-regex ``replace(s, ' L  R ', ' LR ')``: each match consumes one
    space from either side of the pair, leaving single spaces that
    keep neighbouring candidates intact, while the shared middle spaces
    make overlapping occurrences (``a a a`` under merge ``a+a``)
    resolve leftmost-first in both engines — no lookarounds, so the
    same semantics hold for Java regex-free replace and DuckDB.

    Scale shape: the corpus reduces ONCE to the word-frequency
    vocabulary (one uniform-key shuffle on the word, map-side
    combined); every round then operates at VOCAB grain — a pair-count
    shuffle over distinct symbol pairs plus a 1-row TakeOrdered for the
    argmax, broadcast back onto the vocab for the merge. Corpus size
    only enters the first aggregate; rounds cost O(|vocab|) each. The
    whole plan is lazily composed — no driver-side collect between
    rounds."""
    words = _corpus_vocab(docs, text_col)
    merges, _rep = _bpe_train(words, rounds)
    return merges.orderBy("merge_round")


def _corpus_vocab(docs, text_col: str):
    """(w, c) word-frequency vocabulary — the ONE corpus-grain reduce
    the BPE family pays."""
    return (docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
            .groupBy("w").agg(F.count("*").cast("bigint").alias("c")))


_BPE_SEP = "  "


def _bpe_train(words, rounds: int):
    """Shared BPE merge loop over a (w, c) vocabulary. Returns
    (merges, rep): the per-round merge table and the final vocabulary
    representation (w, s, c) with ``s`` the double-space symbol string
    after all ``rounds`` merges — the input to :func:`bpe_apply`."""
    sep = _BPE_SEP
    rep = words.select(
        "w",
        F.concat(F.lit(sep), F.regexp_replace(F.col("w"), "(.)", f"$1{sep}"))
        .alias("s"),
        "c")

    out = None
    for r in range(1, rounds + 1):
        # zip-of-slices over the split-once symbol array — never
        # element_at(split(s), i) inside the lambda, which re-splits
        # per element (the O(len²) interpreted-HOF trap, see
        # bigram_surprisal)
        sym = F.col("_sym")
        adj = F.zip_with(
            F.slice(sym, 1, F.size(sym) - 1),
            F.slice(sym, 2, F.size(sym) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")))
        pairs = rep.select(
            F.split(F.trim(F.col("s")), sep).alias("_sym"), "c"
        ).select(
            F.explode(F.when(F.size(sym) >= 2, adj)
                      .otherwise(F.array().cast(
                          "array<struct<l:string,r:string>>"))).alias("p"),
            "c")
        pc = (pairs.groupBy("p.l", "p.r")
              .agg(F.sum("c").cast("bigint").alias("n")))
        top = pc.orderBy(F.desc("n"), "l", "r").limit(1)
        row = top.select(
            F.lit(r).cast("bigint").alias("merge_round"),
            F.col("l").alias("left_sym"), F.col("r").alias("right_sym"),
            F.concat("l", "r").alias("merged"),
            F.col("n").alias("pair_count"))
        out = row if out is None else out.unionAll(row)
        rep = rep.crossJoin(F.broadcast(top)).select(
            "w",
            F.replace(
                F.col("s"),
                F.concat(F.lit(" "), F.col("l"), F.lit(sep), F.col("r"),
                         F.lit(" ")),
                F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" ")))
            .alias("s"),
            "c")
    if out is None:  # rounds=0: empty merge table with the right schema
        out = words.limit(0).select(
            F.lit(0).cast("bigint").alias("merge_round"),
            F.lit("").alias("left_sym"), F.lit("").alias("right_sym"),
            F.lit("").alias("merged"),
            F.lit(0).cast("bigint").alias("pair_count"))
    return out, rep


def bpe_apply(docs, id_col: str, text_col: str, rounds: int = 3):
    """Apply the ``rounds`` BPE merges LEARNED FROM THIS CORPUS
    (:func:`bpe_merge_rounds`'s loop, shared verbatim) to every
    document: per doc, word count, character count, subword count
    after the merges, and the half-up 4dp subwords-per-char
    compression — the tokenizer-apply pass that turns the learned
    vocabulary into the token budget packing/pricing actually uses.

    Scale shape: merges apply once per DISTINCT word (the vocab-grain
    loop — exactly how real tokenizers cache word→pieces), then each
    doc is a join of its token rows against that vocabulary
    (vocabulary-sized side, AQE broadcasts when small) and one
    doc-grain aggregate. The corpus is never re-scanned per round."""
    words = _corpus_vocab(docs, text_col)
    _merges, rep = _bpe_train(words, rounds)
    vocab = rep.select(
        "w",
        F.size(F.split(F.trim(F.col("s")), _BPE_SEP)).cast("bigint")
        .alias("_n_sym"))
    tk = docs.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("w"))
    return (
        tk.join(vocab, "w")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_words"),
             F.sum(F.length("w")).cast("bigint").alias("n_chars"),
             F.sum("_n_sym").cast("bigint").alias("n_subwords"))
        .select(F.col(id_col), "n_words", "n_chars", "n_subwords",
                F.when(F.col("n_chars") > 0,
                       F.expr("(2 * 10000 * n_subwords + n_chars)"
                              " div (2 * n_chars)").cast("double")
                       / 10000.0).otherwise(0.0).alias("compression"))
    )


def bigram_surprisal(df, id_col: str, text_col: str):
    """Mean ADD-ONE-smoothed bigram surprisal per document against the
    corpus's own bigram LM — one LM order up from
    :func:`unigram_surprisal`, the interpolation step toward the
    KenLM-style perplexity filters CCNet used (Wenzek et al. 2020):
    -log2 P(w2|w1) with P = (c(w1,w2)+1) / (c(w1)+V).

    Per-bigram surprisal quantizes to integer micro-bits BEFORE the
    per-doc sum (the q74 discipline) and the per-doc mean is the
    half-up integer device, so the 4dp result is addend-order-free.

    Scale shape: bigram extraction is the q108 JVM array trick (no
    Python); the bigram-count model is one (w1,w2)-grain shuffle with
    map-side combine, joined back to the SAME exploded rows; unigram
    counts join on w1 (vocabulary-grain, AQE broadcasts when small);
    the vocabulary size rides a broadcast 1-row frame. Docs with < 2
    tokens surface with n_bigrams = 0, surprisal 0.

    Bigram assembly is zip-of-slices over a MATERIALIZED token column,
    never ``element_at(tokens(text), i)`` inside the index lambda —
    interpreted HOF lambdas re-evaluate embedded subtrees PER ELEMENT,
    so the inlined form re-tokenized the document once per bigram,
    O(len²) (r7 measurement: 13.4s → 1.2s first execution at sf0.1).
    The slice form stays O(len) even if the optimizer collapses the
    projection."""
    tk = F.col("_tok")
    toks = df.select(F.col(id_col),
                     tokens(F.col(text_col)).alias("_tok"))
    bigrams = F.zip_with(
        F.slice(tk, 1, F.size(tk) - 1),
        F.slice(tk, 2, F.size(tk) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    bg = (toks.select(F.col(id_col),
                      F.explode(F.when(F.size(tk) >= 2, bigrams)
                                .otherwise(F.array().cast(
                                    "array<struct<w1:string,w2:string>>")))
                      .alias("b"))
          .select(id_col, "b.w1", "b.w2"))
    uc = (toks.select(F.explode(tk).alias("w1"))
          .groupBy("w1").agg(F.count("*").cast("bigint").alias("_c1")))
    vs = uc.agg(F.count("*").cast("bigint").alias("_v"))
    bc = (bg.groupBy("w1", "w2")
          .agg(F.count("*").cast("bigint").alias("_cb")))
    ub = F.round(
        F.log2((F.col("_c1") + F.col("_v")).cast("double")
               / (F.col("_cb") + 1)) * 1000000.0, 0).cast("bigint")
    sc = (bg.join(bc, ["w1", "w2"])
          .join(uc, "w1")
          .join(F.broadcast(vs))
          .select(id_col, ub.alias("_ubits"))
          .groupBy(id_col)
          .agg(F.count("*").cast("bigint").alias("n_bigrams"),
               F.sum("_ubits").alias("_ub")))
    return (
        df.select(id_col).join(sc, id_col, "left")
        .select(id_col,
                F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
                .alias("n_bigrams"),
                F.when(F.col("n_bigrams").isNotNull(),
                       F.expr("(2 * _ub + 100 * n_bigrams)"
                              " div (200 * n_bigrams)")
                       .cast("double") / 10000.0)
                .otherwise(0.0).alias("avg_surprisal"))
    )


def oov_stats(df, id_col: str, text_col: str, vocab_size: int = 100):
    """Vocabulary-coverage / OOV profile per document: token count,
    tokens outside the corpus's own top-``vocab_size`` vocabulary
    (count DESC, token ASC tiebreak), and the half-up 4dp OOV rate —
    the tokenizer-coverage check run before committing a vocab.

    Scale shape: one token-grain shuffle for corpus counts; the
    vocabulary is a bounded TakeOrdered result joined BROADCAST onto
    the exploded token rows (corpus never reshuffles); one doc-grain
    aggregate finishes."""
    tk = df.select(F.col(id_col),
                   F.explode(tokens(F.col(text_col))).alias("_tok"))
    uc = tk.groupBy("_tok").agg(F.count("*").alias("_c"))
    vocab = (uc.orderBy(F.desc("_c"), "_tok").limit(vocab_size)
             .select("_tok", F.lit(True).alias("_in_v")))
    return (
        tk.join(F.broadcast(vocab), "_tok", "left")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_tokens"),
             F.sum(F.when(F.col("_in_v").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_oov"))
        .select(id_col, "n_tokens", "n_oov",
                (F.expr("(2 * 10000 * n_oov + n_tokens)"
                        " div (2 * n_tokens)")
                 .cast("double") / 10000.0).alias("oov_rate"))
    )


def maxmatch_vocab(docs, text_col: str, top_k: int = 64,
                   max_len: int = 6):
    """Deterministic subword vocabulary for :func:`maxmatch_apply`:
    every single character of the corpus (the WordPiece fallback
    alphabet — no <unk> needed) plus the ``top_k`` most
    corpus-frequent substrings of length 2..``max_len`` (all word
    positions, overlaps counted, occurrences weighted by word
    frequency; ties break lexicographic). Returned as a DataFrame of
    pieces so the selection itself is engine-checkable — the q174
    oracle re-derives it verbatim in SQL."""
    return _maxmatch_vocab_from_words(_corpus_vocab(docs, text_col),
                                      top_k, max_len)


def _maxmatch_vocab_from_words(words, top_k: int, max_len: int):
    """Vocab selection over an already-built (w, c) word table — split
    out so :func:`maxmatch_apply` can derive vocab AND segmentation
    from ONE materialized word frame instead of re-running the
    corpus-grain explode+reduce under each branch (the ``words``
    subtree used to be evaluated three times per call: the chars
    branch, the subs branch, and the apply pass)."""
    # the CASE guards the sequence(1,0) trap for empty-string words
    # (whitespace-only docs tokenize to ['']): Spark's sequence(1, 0)
    # is the DESCENDING [1, 0], which would leak '' into the vocab
    # while the oracle's half-open range stays empty
    chars = words.select(F.explode(F.expr(
        "CASE WHEN length(w) >= 1 THEN "
        "transform(sequence(1, length(w)), i -> substring(w, i, 1)) "
        "ELSE array() END"))
        .alias("p")).distinct()
    # guard the L-too-long arm explicitly: Spark's sequence(1, 0) is
    # the DESCENDING [1, 0], not empty (the sequence(1,0) trap)
    subs = words.select("c", F.explode(F.expr(f"""
        flatten(transform(sequence(2, {int(max_len)}),
          L -> CASE WHEN length(w) >= L
                    THEN transform(sequence(1, length(w) - L + 1),
                                   i -> substring(w, i, L))
                    ELSE array() END))""")).alias("p"))
    top = (subs.groupBy("p").agg(F.sum("c").alias("_n"))
           .orderBy(F.col("_n").desc(), "p").limit(int(top_k))
           .select("p"))
    return chars.unionByName(top).distinct()


def maxmatch_apply(docs, id_col: str, text_col: str, top_k: int = 64,
                   max_len: int = 6):
    """WordPiece-style greedy longest-match segmentation (the MaxMatch
    inference pass of Wu et al. 2016's wordpieces / Song et al. 2021's
    'Fast WordPiece Tokenization'): segment every word left-to-right,
    always taking the LONGEST vocabulary piece that matches at the
    cursor; the single-character alphabet guarantees progress. Emits
    per document (n_words, n_chars, n_pieces, pieces_per_word 4dp
    half-up).

    Scale shape: segmentation runs once per DISTINCT word (vocab-grain
    mapInPandas with the ≤ alphabet+top_k piece set in the task
    closure — exactly how production tokenizers cache word→pieces),
    then each document joins its token rows against that word table
    and aggregates. Under the broadcast cap described below, the
    corpus is scanned once for the apply join and once — materialized
    via localCheckpoint — for the shared (w, c)
    word table that BOTH the vocabulary branches and the segmentation
    pass read (guide §2.4: the explode+reduce used to be re-evaluated
    under the chars, subs, and apply subtrees — three corpus reduces
    per call, now one). The bounded vocabulary collect is the
    documented-eager step.

    The apply-join broadcast is SIZE-GATED (r12): the word→pieces
    table is distinct-CORPUS-word grain, which grows with the corpus
    (Heaps' law) — unlike ``oov_stats``'s ``limit(vocab_size)`` table
    it is not bounded by construction, and force-broadcasting it at
    the 100 TB design point would blow the 8 GB broadcast cap. Below
    ``SPARK_GRAFT_MAXMATCH_BCAST_WORDS`` distinct words (default 1e6 —
    a production tokenizer's word→pieces cache size, ~50 MB framed)
    the whole table broadcasts as before; above it, only the top-cap
    most FREQUENT words broadcast (the cache shape: Zipf puts ~90 %+
    of token occurrences in the head) and the long-tail token rows —
    pre-filtered by a broadcast anti-join so only cache misses move —
    shuffle-join the residual piece table (guide §2.5's hot-key
    split / §3.1 bounded-broadcast discipline). That split path scans
    and tokenizes the corpus TWICE for the apply join, once under the
    head join and once under the anti-join that feeds the tail join:
    a single pass would have to either shuffle every token row (hits
    included) into the tail join or materialize the exploded
    corpus-by-token frame, and both cost more than a second
    scan+tokenize at the corpus size where the split engages. The word
    count is one cheap job over the already-checkpointed word table."""
    import os

    import pandas as pd

    words = _corpus_vocab(docs, text_col).localCheckpoint()
    vocab = {r.p for r in _maxmatch_vocab_from_words(words, top_k,
                                                     max_len).collect()}
    ml = int(max_len)

    def seg(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for w in pdf["w"]:
                i, n, L = 0, 0, len(w)
                while i < L:
                    step = 1
                    for l in range(min(ml, L - i), 1, -1):
                        if w[i:i + l] in vocab:
                            step = l
                            break
                    i += step
                    n += 1
                out.append(n)
            yield pd.DataFrame({"w": pdf["w"], "c": pdf["c"], "_np": out})

    pieces = words.select("w", "c").mapInPandas(
        seg, "w string, c bigint, _np bigint")
    tk = docs.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("w"))
    bcast_cap = int(os.environ.get("SPARK_GRAFT_MAXMATCH_BCAST_WORDS",
                                   "1000000"))
    if words.count() <= bcast_cap:
        # bounded by the measured count: broadcast the whole
        # word→pieces table (the production tokenizer cache shape —
        # oov_stats broadcasts its vocab the same way); the exploded
        # corpus never reshuffles for the join
        seg_rows = tk.join(F.broadcast(pieces.select("w", "_np")), "w")
    else:
        # corpus too wordy for one broadcast: checkpoint the segmented
        # table once (every branch reads it — without this the Python
        # segmentation pass would run once per branch), broadcast the
        # bounded top-frequency head, and shuffle-join only the
        # anti-join survivors (the Zipf tail) against the residual.
        # All three joins reference the SAME broadcast subtree so the
        # exchange builds once (ReusedExchange).
        pieces = pieces.localCheckpoint()
        bhot = F.broadcast(pieces.orderBy(F.desc("c"), "w")
                           .limit(bcast_cap).select("w", "_np"))
        tail = pieces.join(bhot, "w", "left_anti").select("w", "_np")
        seg_rows = (
            tk.join(bhot, "w")
            .unionByName(tk.join(bhot, "w", "left_anti").join(tail, "w"))
        )
    return (
        seg_rows
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_words"),
             F.sum(F.length("w")).cast("bigint").alias("n_chars"),
             F.sum("_np").cast("bigint").alias("n_pieces"))
        .select(F.col(id_col), "n_words", "n_chars", "n_pieces",
                (F.expr("(2 * 10000 * n_pieces + n_words)"
                        " div (2 * n_words)").cast("double") / 10000.0)
                .alias("pieces_per_word"))
    )
