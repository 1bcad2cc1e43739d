"""Deduplication operators for web-scale corpora.

All families are DataFrame-native and shuffle-minimal:

- exact:      hash-groupBy on a content digest (one shuffle on the digest)
- minhash:    one signature table per run (shingles from ONE tokenize
              pass, banded MinHash, a short-doc key); candidate pairs come
              from one self-join on its (key index, key value) buckets —
              only bucket-colliding docs ever meet, never O(n^2)
- simhash:    64-bit per-token-hash bit-majority signature; near-dups share
              signatures or low Hamming distance within buckets
- ngram jaccard: exact verification of LSH candidates over the signature
              table's shingle arrays (array_intersect/union)

Hash function choice: md5 (not xxhash) for anything oracle-checked — md5 is
bit-identical across Spark, DuckDB and Python, making every operator
cross-engine verifiable. Swap to xxhash64 for pure-Spark production speed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nemo_spark.ops.text import tokens, tokens_sql


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(h, canonical_id, n): one row per distinct content digest; canonical =
    min id in the group. Filter n > 1 for duplicate clusters."""
    return (
        df.groupBy(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("h"))
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n"))
    )


def token_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles as array<string> (empty when < k tokens).

    Built with slice + zip_with, NOT element_at inside a transform lambda:
    an expression referenced inside a higher-order-function lambda is
    re-evaluated PER ELEMENT, so the naive form re-splits the text O(n*k)
    times per row (observed 20x slowdown). Here split() runs ~k times/row."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))  # number of shingles
    out = F.slice(toks, F.lit(1), m)
    for j in range(1, k):
        out = F.zip_with(
            F.slice(toks, F.lit(1 + j), m), out, lambda nxt, acc: F.concat(acc, F.lit(" "), nxt)
        )
    return F.array_distinct(out)


def _band_min(shingles: Column, b: int) -> Column:
    """MinHash for one band: min over shingles of md5(band_salt|shingle).

    String-min over hex digests == numeric min over the 128-bit hash —
    portable to any engine with md5."""
    prefix = f"b{b}|"
    # single-parameter lambda: pyspark passes (element, index) to
    # two-parameter callables, which would corrupt a default-arg capture
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.encode(F.concat(F.lit(prefix), s), "UTF-8")))
    ).alias(f"band{b}")


def signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bands: int = 4, k: int = 3
) -> DataFrame:
    """The one tokenize pass of a near-dup run: (``id_col``, shingles,
    band0..band{bands-1}, short), lazily localCheckpoint'ed so candidate
    generation and verification both read it instead of the input.

    ``short`` is md5(normalized text) for docs with fewer than ``k`` tokens:
    their shingle set is EMPTY, every band minhash is NULL and no band can
    propose them, so byte-identical short docs pair on it instead (only
    truly identical short docs match; near-miss short docs are below the
    shingle resolution by definition). It is NULL for every other doc."""
    from nemo_spark.ops.text import normalized
    from nemo_spark.session import fan_out

    # shingle + per-band md5 are interpreted higher-order expressions —
    # microseconds PER ELEMENT, the heaviest per-row work in this module. A
    # single-split source (one small parquet file / one unsplittable blob)
    # would pin all of it to one core; fan_out is a no-op once the source
    # has >= cores splits. Measured 1.29s -> 0.42s on the bench corpus.
    # The shingle array gets its own projection FIRST: inlining it into
    # every band expression would re-split the text per element access
    # (observed 20x slowdown).
    sh = fan_out(df).select(
        F.col(id_col), F.col(text_col), token_shingles(F.col(text_col), k).alias("shingles")
    )
    short = F.md5(F.encode(normalized(F.col(text_col)), "UTF-8"))
    return sh.select(
        F.col(id_col),
        F.col("shingles"),
        *[_band_min(F.col("shingles"), b) for b in range(bands)],
        F.when(F.size("shingles") == 0, short).alias("short"),
    ).localCheckpoint(eager=False)


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(a, b) candidate near-dup pairs over a :func:`signatures` table: docs
    sharing any band minhash or the short-doc key. Every band and the short
    key explode into (key index, key value) rows, NULL keys dropped, and ONE
    self-join on that pair proposes them — bucket sizes bound the work."""
    cols = [c for c in sig.columns if re.fullmatch(r"band\d+", c)] + ["short"]
    keys = F.array(*[F.struct(F.lit(i).alias("ki"), F.col(c).alias("kv")) for i, c in enumerate(cols)])
    ex = sig.select(F.col(id_col), F.inline(keys)).filter(F.col("kv").isNotNull())
    a = ex.select(F.col(id_col).alias("a"), "ki", "kv")
    b = ex.select(F.col(id_col).alias("b"), "ki", "kv")
    return a.join(b, on=["ki", "kv"]).filter(F.col("a") < F.col("b")).select("a", "b").distinct()


def jaccard_verify(
    pairs: DataFrame, sig: DataFrame, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs, from the shingle arrays of
    the :func:`signatures` table; keeps pairs >= threshold."""
    a = sig.select(F.col(id_col).alias("a"), F.col("shingles").alias("__sa"))
    b = sig.select(F.col(id_col).alias("b"), F.col("shingles").alias("__sb"))
    j = (
        pairs.join(a, on="a").join(b, on="b")
        .withColumn(
            "jaccard",
            # guard the 0/0 case: two docs shorter than k tokens both have
            # empty shingle sets — identical (trivially) => 1.0, never NULL
            # (a NULL would silently drop a true duplicate pair at any
            # threshold)
            F.when(
                F.size(F.array_union("__sa", "__sb")) > 0,
                F.size(F.array_intersect("__sa", "__sb")).cast("double")
                / F.size(F.array_union("__sa", "__sb")).cast("double"),
            ).otherwise(F.lit(1.0)),
        )
        .select("a", "b", "jaccard")
    )
    return j.filter(F.col("jaccard") >= threshold)


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate CLUSTERS: (doc_id, cluster_id) where cluster_id is the
    min doc id of the doc's connected component in the verified near-dup
    pair graph — the canonical representative a dedup pass keeps. Docs with
    no near-duplicate are their own cluster.

    This closes the dedup workflow: pairwise near-dup detection alone
    over-deletes (A~B and B~C without A~C must still collapse to ONE kept
    doc, not two independent pair decisions). Scale path end to end: one
    :func:`signatures` table feeds both the banded LSH self-join (never
    all-pairs) and the Jaccard verify, the component step is the O(log n)
    alternating-star CC, and the final membership map is a left join — no
    stage is quadratic. The input is read twice: once for the signatures,
    once for the membership map."""
    from nemo_spark.kg.canonicalize import connected_components

    sig = signatures(df, id_col, text_col, bands, k)
    pairs = jaccard_verify(lsh_candidate_pairs(sig, id_col), sig, id_col, threshold)
    comp = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    ).withColumnRenamed("node", id_col)
    return (
        df.select(F.col(id_col))
        .join(comp, on=id_col, how="left")
        .select(F.col(id_col), F.coalesce("component", F.col(id_col)).alias("cluster_id"))
    )


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 1) -> DataFrame:
    """64-bit SimHash over token k-grams (k=1: tokens), pure Catalyst.

    Per bit i: majority of shingle-hash bit i — aggregate the hash array once
    into 64 vote counters packed via explode-free per-bit aggregates. Each
    intermediate (tokens -> hashes -> votes) is its own projection so nothing
    is re-evaluated per reference."""
    from nemo_spark.session import fan_out

    sh = token_shingles(F.col(text_col), k) if k > 1 else F.array_distinct(tokens(F.col(text_col)))
    hdf = fan_out(df).select(F.col(id_col), F.transform(sh, lambda s: F.xxhash64(s)).alias("__h"))

    def _signed64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    def vote(i: int):
        mask = _signed64(1 << i)  # bit 63 is the sign bit in i64
        return lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(-1))

    vdf = hdf.select(
        F.col(id_col),
        *[F.aggregate(F.col("__h"), F.lit(0).cast("long"), vote(i)).alias(f"__v{i}") for i in range(64)],
    )
    out = F.lit(0).cast("long")
    for i in range(64):
        out = out + F.when(F.col(f"__v{i}") > 0, F.lit(_signed64(1 << i)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return vdf.select(F.col(id_col), out.alias("simhash"))


def simhash_hex(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 1) -> DataFrame:
    """64-bit SimHash as a 16-char hex string, md5-derived and therefore
    bit-portable to any engine with md5 (the oracle-checkable variant of
    :func:`simhash64`, which uses Spark-only xxhash64).

    Bit (j, b) of the signature (nibble j = 0..15, bit b = 0..3) is the
    majority over token hashes of bit b of hex nibble j of md5(token).
    Output nibble j = sum of winning bits' weights, rendered as hex."""
    from nemo_spark.session import fan_out

    sh = token_shingles(F.col(text_col), k) if k > 1 else F.array_distinct(tokens(F.col(text_col)))
    hdf = fan_out(df).select(
        F.col(id_col), F.transform(sh, lambda s: F.md5(F.encode(s, "UTF-8"))).alias("__h")
    )

    def nibble_val(h: Column, j: int) -> Column:
        a = F.ascii(F.substring(h, j + 1, 1))  # '0'-'9' => 48-57, 'a'-'f' => 97-102
        return F.when(a <= 57, a - 48).otherwise(a - 87)

    def vote(j: int, b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(nibble_val(h, j), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    vdf = hdf.select(
        F.col(id_col),
        *[
            F.aggregate(F.col("__h"), F.lit(0).cast("long"), vote(j, b)).alias(f"__v{j}_{b}")
            for j in range(16)
            for b in range(4)
        ],
    )
    hex_chars = []
    for j in range(16):
        v = F.lit(0)
        for b in range(4):
            v = v + F.when(F.col(f"__v{j}_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        hex_chars.append(F.substr(F.lit("0123456789abcdef"), v + 1, F.lit(1)))
    return vdf.select(F.col(id_col), F.concat(*hex_chars).alias("simhash"))


def simhash_hex_oracle_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB SQL computing exactly :func:`simhash_hex` (same md5 nibbles,
    same majority votes, same hex rendering)."""
    votes = []
    for j in range(16):
        nv = (
            f"(CASE WHEN ascii(substr(x, {j + 1}, 1)) <= 57 "
            f"THEN ascii(substr(x, {j + 1}, 1)) - 48 "
            f"ELSE ascii(substr(x, {j + 1}, 1)) - 87 END)"
        )
        for b in range(4):
            votes.append(
                f"COALESCE(list_sum(list_transform(h, x -> "
                f"CASE WHEN ({nv} // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)), 0) AS v{j}_{b}"
            )
    nibbles = []
    for j in range(16):
        weights = " + ".join(f"(CASE WHEN v{j}_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(4))
        nibbles.append(f"substr('0123456789abcdef', ({weights}) + 1, 1)")
    return f"""
WITH toksd AS (SELECT {id_col}, list_distinct({tokens_sql(text_col)}) AS t FROM {table}),
hs AS (SELECT {id_col}, list_transform(t, x -> md5(x)) AS h FROM toksd),
votes AS (SELECT {id_col}, {", ".join(votes)} FROM hs)
SELECT {id_col}, {" || ".join(nibbles)} AS simhash FROM votes
"""


def simhash_dedup_candidates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Candidate pairs with identical SimHash (cheap first pass; for
    Hamming distance <= d see :func:`simhash_hamming_candidates`)."""
    s = simhash64(df, id_col, text_col)
    a = s.select(F.col(id_col).alias("a"), "simhash")
    b = s.select(F.col(id_col).alias("b"), "simhash")
    return a.join(b, on="simhash").filter(F.col("a") < F.col("b")).select("a", "b", "simhash")


def simhash_hamming_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    k: int = 1,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= ``max_hamming`` —
    the 100-TB path promised by :func:`simhash_dedup_candidates`.

    Pigeonhole banding: the 64-bit signature splits into ``max_hamming + 1``
    disjoint bit bands, so any pair within Hamming distance d agrees EXACTLY
    on at least one band. Candidates come from (band_idx, band_bits)
    equi-joins — one shuffle on the band key, never an all-pairs compare —
    and the exact ``bit_count(xor) <= d`` filter removes band-collision
    false positives. No false negatives by construction (complete recall).
    Returns (a, b, hamming) with a < b, deduplicated across bands."""
    nb = max_hamming + 1
    if nb > 64:
        raise ValueError("max_hamming must be < 64")
    s = simhash64(df, id_col, text_col, k)
    widths = [64 // nb + (1 if i < 64 % nb else 0) for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftrightunsigned(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1 if widths[i] < 64 else -1))
                .alias("bv"),
            )
            for i in range(nb)
        ]
    )
    ex = s.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")).select(
        F.col(id_col), F.col("simhash"), F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )
    a = ex.select(F.col(id_col).alias("a"), F.col("simhash").alias("__sa"), "bi", "bv")
    b = ex.select(F.col(id_col).alias("b"), F.col("simhash").alias("__sb"), "bi", "bv")
    return (
        a.join(b, on=["bi", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def _hex_nibble(col: Column, j: int) -> Column:
    a = F.ascii(F.substring(col, j + 1, 1))
    return F.when(a <= 57, a - 48).otherwise(a - 87)


def simhash_hex_hamming_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    include_signatures: bool = False,
) -> DataFrame:
    """Hamming-banded near-dup pairs over the md5-derived hex signature
    (:func:`simhash_hex`) — identical semantics to
    :func:`simhash_hamming_candidates` but engine-portable, so a DuckDB
    oracle can replicate it bit-exactly
    (:func:`simhash_hex_hamming_oracle_sql`). Bands are substrings of the
    16-nibble hex signature (pigeonhole over nibble groups); the exact
    per-nibble popcount(xor) filter keeps true <= d pairs.

    ``include_signatures=True`` additionally emits both endpoints' hex
    signatures (sig_a, sig_b) — they already flow through the band join, so
    this is free and lets one oracle row attest signature values AND pair
    semantics together."""
    nb = max_hamming + 1
    if nb > 16:
        raise ValueError("max_hamming must be < 16 for the hex variant")
    s = simhash_hex(df, id_col, text_col)
    widths = [16 // nb + (1 if i < 16 % nb else 0) for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                F.substring(F.col("simhash"), offsets[i] + 1, widths[i]).alias("bv"),
            )
            for i in range(nb)
        ]
    )
    ex = s.select(F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")).select(
        F.col(id_col), F.col("simhash"), F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )
    a = ex.select(F.col(id_col).alias("a"), F.col("simhash").alias("__sa"), "bi", "bv")
    b = ex.select(F.col(id_col).alias("b"), F.col("simhash").alias("__sb"), "bi", "bv")
    ham = None
    for j in range(16):
        h = F.bit_count(_hex_nibble(F.col("__sa"), j).bitwiseXOR(_hex_nibble(F.col("__sb"), j)))
        ham = h if ham is None else (ham + h)
    sig_cols = (
        [F.col("__sa").alias("sig_a"), F.col("__sb").alias("sig_b")] if include_signatures else []
    )
    return (
        a.join(b, on=["bi", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", *sig_cols, ham.cast("int").alias("hamming"))
        .dropDuplicates(["a", "b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_hex_hamming_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    include_signatures: bool = False,
) -> str:
    """DuckDB SQL replicating :func:`simhash_hex_hamming_candidates` exactly:
    same md5-nibble signatures (via :func:`simhash_hex_oracle_sql`), same
    per-nibble popcount(xor) Hamming distance. The oracle compares all pairs
    (correctness reference, not the scale plan)."""
    sig = simhash_hex_oracle_sql(table, id_col, text_col)
    nib = (
        "(CASE WHEN ascii(substr({s}, {p}, 1)) <= 57 THEN ascii(substr({s}, {p}, 1)) - 48 "
        "ELSE ascii(substr({s}, {p}, 1)) - 87 END)"
    )
    terms = []
    for j in range(16):
        na = nib.format(s="sa.simhash", p=j + 1)
        nbv = nib.format(s="sb.simhash", p=j + 1)
        terms.append(f"bit_count(CAST(xor({na}, {nbv}) AS BIGINT))")
    ham = " + ".join(terms)
    sig_sel = ", sa.simhash AS sig_a, sb.simhash AS sig_b" if include_signatures else ""
    return f"""
WITH sigs AS ({sig})
SELECT sa.{id_col} AS a, sb.{id_col} AS b{sig_sel}, CAST(({ham}) AS INTEGER) AS hamming
FROM sigs sa JOIN sigs sb ON sa.{id_col} < sb.{id_col}
WHERE ({ham}) <= {max_hamming}
"""
