"""Deduplication operators over `documents` (north-star X1 + the
training-data-pipeline dedup family): exact, n-gram Jaccard (exact
oracle), MinHash-LSH, SimHash. SURVEY.md §2.9.

Scale ladder (what you'd run at 100 TB, cheapest first):
1. exact hash dedup            — one shuffle on md5(text)
2. bag-of-words fingerprint    — operators/text.py::text_fingerprint
3. SimHash banding             — near-dup candidates via 4×16-bit bands
4. MinHash-LSH                 — Jaccard-calibrated candidates
5. exact n-gram Jaccard        — only ever on candidate pairs; declared
                                 here on the full corpus so DuckDB can
                                 verify values exactly (the testdata corpus
                                 is small; the plan is the verification
                                 stage of 3/4, not a full-corpus O(n²)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import load_table, spread
from ..registry import checkpoint, query, release_checkpoint

SHINGLE_N = 3

# doc_id → distinct 3-token shingles, shared tokenization with the oracles.
ORACLE_SHINGLES = """
    tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents),
    sh AS (SELECT doc_id,
                  UNNEST(list_distinct(list_transform(range(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
           FROM tok WHERE len(t) >= 3)
"""


def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — distinct n-token shingles per document, built
    with array higher-order functions (one narrow stage + explode)."""
    t = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.sequence(F.lit(0), F.size(t) - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j + 1) for j in range(n)]
        ),
    )
    return (
        docs.filter(F.size(t) >= n)
        .select("doc_id", F.explode(F.array_distinct(gram)).alias("s"))
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    At 100 TB: hashing first means the shuffle carries 32-byte keys, not
    documents; the keeper choice is a min() aggregate, not a window."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2): shingle-explode
    → self-join on shingle → |A∩B| per pair → Jaccard from set sizes.
    This is the *verification* stage of MinHash/SimHash dedup; standalone
    it is quadratic in the worst case — the shingle join skews on frequent
    shingles, which is exactly what the LSH variants below avoid at scale."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sh = shingles(d).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    out = (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return out


MINHASH_NH = 64  # signature width (Jaccard estimate ± ~0.06)
MINHASH_BANDS = 8  # single-row bands for candidates: P(cand) = 1-(1-s)^8

# Portable 60-bit string hash + (a·x+b) mod p permutation family. Every
# constant is a module-level LITERAL so the DuckDB oracles recompute the
# IDENTICAL signatures — the promotion that turned similarity_ann_lsh's
# plane family into a full value verdict, applied to the whole LSH stack.
# 60 bits (15 hex chars of md5) keep hex→int exact in BIGINT arithmetic on
# both engines; permutations run in a 31-bit Mersenne field so a·x+b stays
# < 2^62 (no overflow, no HUGEINT/decimal promotion on either side).
H60_P = 2147483647  # 2^31 - 1
_H60_POWERS = [16 ** (14 - i) for i in range(15)]
# fixed draws from random.Random(20260814) — regenerating them is a
# correctness change (every committed signature/band value moves)
MINHASH_A = [
    1571058545, 730493952, 1660058740, 1293707556, 1122761735, 1579482914,
    72772567, 776319283, 1809802580, 1088400266, 1716185262, 1854787491,
    1376580201, 1232262117, 126093127, 1718349005, 1255154079, 929465994,
    1495162255, 1110399377, 253380337, 223979957, 331484110, 2008330133,
    554108161, 2135836561, 84440658, 430566607, 287728255, 1463639563,
    1926419603, 34250604, 492340083, 377114939, 1370280527, 1486839301,
    1398888244, 2122241594, 1078376802, 462006863, 988049140, 2126155474,
    827766902, 1307509405, 1105680809, 1314894101, 2032715449, 109028815,
    2091592247, 1492510469, 1748677567, 1091064768, 791347239, 583621837,
    1267255616, 288603718, 146926940, 761214735, 923038556, 1674215712,
    1858616511, 193761615, 804076797, 119361461,
]
MINHASH_B = [
    98814916, 266826054, 245419345, 1201252330, 1859793215, 206035909,
    223865883, 49088442, 41232954, 856971917, 1965718114, 941651180,
    671533330, 617845258, 688059068, 1944479396, 537251662, 30436578,
    152459477, 1273538093, 1317125680, 1310907092, 1000501228, 477874466,
    1750660665, 166771034, 2107493483, 1840299834, 145221887, 1889926712,
    1823132764, 1487515885, 185844917, 54371504, 2068842449, 1797935739,
    855848344, 2087883667, 1954204805, 995937520, 919877967, 1695462048,
    1724977144, 1759306916, 1149796936, 1058702318, 196574839, 646284890,
    1877826249, 2145608185, 384649797, 872125835, 674143216, 1924984630,
    46258261, 1389849858, 1905916930, 599288704, 1849850184, 484960482,
    2018272176, 1849562618, 742836724, 1300078765,
]


def h60_spark(col) -> "F.Column":
    """First 60 bits of md5(col) as a positive BIGINT (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """The same 60-bit md5 value in DuckDB SQL — hex digits → BIGINT via
    strpos arithmetic against literal powers of 16 (no float anywhere;
    16^14 = 2^56 < 2^63 so every term and the sum stay exact)."""
    powers = ", ".join(str(p) for p in _H60_POWERS)
    return (
        "CAST(list_sum(list_transform(range(15), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), CAST(i + 1 AS INT), 1)) - 1)"
        f" * [{powers}][i + 1])) AS BIGINT)"
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>[NH]) — each shingle string-hashed ONCE
    (60-bit md5, portable across engines), the NH components derived via
    the literal (Aₜ·x + Bₜ) mod 2³¹−1 permutation family — fixed-cost
    arithmetic rehash, not NH passes over the string; min per component
    is a narrow (key, long) hash aggregate with map-side combine."""
    sh = shingles(docs).select(
        "doc_id", F.pmod(h60_spark("s"), F.lit(H60_P)).alias("x")
    )
    # (doc_id, t, min hash_t): explode over seed indices keeps every stage
    # narrow-schema — a NH-wide agg needs a ~1 KB agg buffer per group and
    # NH-col generated code; this form is a plain (key, long) hash
    # aggregate with map-side combine (shuffle = n_docs × NH longs)
    a_arr = F.array(*[F.lit(a).cast("long") for a in MINHASH_A])
    b_arr = F.array(*[F.lit(b).cast("long") for b in MINHASH_B])
    e = sh.select(
        "doc_id", "x", F.explode(F.sequence(F.lit(0), F.lit(MINHASH_NH - 1))).alias("t")
    ).select(
        "doc_id",
        "t",
        F.pmod(
            F.element_at(a_arr, F.col("t") + 1) * F.col("x")
            + F.element_at(b_arr, F.col("t") + 1),
            F.lit(H60_P),
        ).alias("ht"),
    )
    mins = e.groupBy("doc_id", "t").agg(F.min("ht").alias("m"))
    return (
        mins.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("t", "m"))).alias("tm"))
        .select("doc_id", F.transform("tm", lambda s: s["m"]).alias("sig"))
    )


def minhash_candidates(sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b) band-collision candidates: MINHASH_BANDS single-row
    bands (same S-curve as that many hash tables; P(candidate) =
    1-(1-s)^bands); the band join carries (band, 64-bit value) keys only."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.element_at("sig", t + 1).alias("val"),
                    )
                    for t in range(MINHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band", "bv.val")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_comp_sql() -> str:
    """DuckDB CTEs recomputing the engine's exact per-component minima:
    (doc_id, t, m) for t in 0..NH-1, from the same md5-60-bit hash and the
    same literal permutation constants. Appended after ORACLE_SHINGLES."""
    a_lit = ", ".join(str(a) for a in MINHASH_A)
    b_lit = ", ".join(str(b) for b in MINHASH_B)
    return f"""
    mh AS (SELECT doc_id, {h60_sql("s")} % {H60_P} AS x FROM sh),
    comp AS (
        SELECT doc_id, u.t AS t,
               MIN(([{a_lit}][CAST(u.t + 1 AS INT)] * x
                    + [{b_lit}][CAST(u.t + 1 AS INT)]) % {H60_P}) AS m
        FROM mh CROSS JOIN (SELECT UNNEST(range({MINHASH_NH})) AS t) u
        GROUP BY doc_id, u.t)
    """


@query(
    "dedup_minhash",
    oracle=f"""
    WITH {ORACLE_SHINGLES},
    {_minhash_comp_sql()},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM comp a JOIN comp b
          ON a.t = b.t AND a.m = b.m AND a.doc_id < b.doc_id
        WHERE a.t < {MINHASH_BANDS}),
    eq AS (
        SELECT c.doc_a, c.doc_b,
               SUM(CASE WHEN ca.m = cb.m THEN 1 ELSE 0 END) AS matches
        FROM cand c
        JOIN comp ca ON ca.doc_id = c.doc_a
        JOIN comp cb ON cb.doc_id = c.doc_b AND cb.t = ca.t
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(1 - CAST(matches AS DOUBLE) / {MINHASH_NH}, 6) AS jaccard_dist
    FROM eq WHERE matches * 5 >= {MINHASH_NH}
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: MinHash near-dup candidates, fully JVM-side (no MLlib
    approxSimilarityJoin — that path recomputes exact distance with a
    per-pair UDF over the sparse vectors, the slow part at any scale).
    Estimated Jaccard = fraction of matching signature components
    (zip_with), floor 0.2 — reported as jaccard_dist = 1 - estimate.
    The hash family is the portable literal one (h60_spark + MINHASH_A/B),
    so the DuckDB oracle recomputes the SIGNATURES themselves and the
    driver value-hashes the estimates — a full verdict on the raw LSH
    structure, not just its verified downstream. The 0.2 floor is applied
    as the exact integer test matches·5 ≥ NH (k/64 doubles are exact, but
    the integer form keeps the boundary engine-proof). Recall vs the exact
    n-gram pairs is asserted in tests/test_dedup_similarity.py."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures(d).persist()
    cand = minhash_candidates(sig)
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
        .withColumn("matches", matches)
        .filter(F.col("matches") * 5 >= MINHASH_NH)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                1.0 - F.col("matches").cast("double") / MINHASH_NH, 6
            ).alias("jaccard_dist"),
        )
    )


SIMHASH_BITS = 120  # 2 x 60-bit md5 halves — portable AND sign-bit-free
SIMHASH_T = 24  # near-dup Hamming threshold (of 120 bits; was 12 of 60)
# Pigeonhole radius of the 30×4-bit wide banding: a pair differing in at
# most 29 of 120 bits MUST agree on at least one whole 4-bit band. The
# verified pipeline prefilters at THIS bound, not SIMHASH_T — see
# dedup_simhash_verified.
SIMHASH_GUARANTEE = 29


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig0, sig1: long) — 120-bit SimHash as two 60-bit halves:
    per-token portable hashes h60(t) and h60(t || '#2') → per-bit ±1
    votes → sign. Two 60-bit BIGINTs keep every value positive on both
    engines (no sign-bit encoding games); doubling the signature doubles
    the band-key material the candidate join below can spend, which is
    what un-caps its bucket count (VERDICT r04 item 5) while staying
    above the 48-bit floor Manku et al. report for web-scale corpora."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    )
    h = tok.select(
        "doc_id",
        h60_spark("t").alias("h0"),
        h60_spark(F.concat(F.col("t"), F.lit("#2"))).alias("h1"),
    )
    # per-bit vote: sum(±1) over tokens; bit b of each half = vote>0
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"h{half}"), b).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v_{half}_{b}")
            for half in (0, 1)
            for b in range(60)
        ]
    )

    def half_sig(half: int) -> "F.Column":
        sig = F.lit(0).cast("long")
        for b in range(60):
            sig = sig + F.when(
                F.col(f"v_{half}_{b}") > 0, F.lit(2**b).cast("long")
            ).otherwise(0)
        return sig.alias(f"sig{half}")

    return votes.select("doc_id", half_sig(0), half_sig(1))


def simhash_sig_sql() -> str:
    """DuckDB CTE recomputing the engine's exact signatures:
    sig AS (doc_id, sig0 BIGINT, sig1 BIGINT). Tokenization (trim +
    split on \\s+, duplicates kept) matches simhash_signatures exactly."""
    return f"""
    tok AS (SELECT doc_id,
                   UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents),
    th AS (SELECT doc_id, {h60_sql("t")} AS h0,
                  {h60_sql("t || '#2'")} AS h1 FROM tok),
    votes AS (
        SELECT doc_id, u.b AS b,
               SUM(CASE WHEN (h0 >> CAST(u.b AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v0,
               SUM(CASE WHEN (h1 >> CAST(u.b AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v1
        FROM th CROSS JOIN (SELECT UNNEST(range(60)) AS b) u
        GROUP BY doc_id, u.b),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN v0 > 0
                             THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                             ELSE 0 END) AS BIGINT) AS sig0,
               CAST(SUM(CASE WHEN v1 > 0
                             THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                             ELSE 0 END) AS BIGINT) AS sig1
        FROM votes GROUP BY doc_id)
    """


def _simhash_band(sig_col: str, j: int) -> "F.Column":
    """15-bit band j (0-3) of one 60-bit signature half."""
    return F.shiftrightunsigned(F.col(sig_col), 15 * j).bitwiseAND(
        F.lit((1 << 15) - 1)
    )


_SIG_COLS = ["sig0", "sig1"]


def _banded_pairs(keyed: DataFrame) -> DataFrame:
    """Self-join a (doc_id, sig0, sig1, k, val) band table on the
    composite (k, val) key → distinct candidate pairs with both
    signatures on both sides."""
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in _SIG_COLS],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in _SIG_COLS],
        )
        .distinct()
    )


def simhash_candidates(signatures: DataFrame) -> DataFrame:
    """(doc_a, doc_b, sig0/1_a, sig0/1_b) candidates via FOUR 30-bit
    composite keys: the 120-bit signature is cut into 8 x 15-bit bands
    (4 per half) and adjacent bands concatenate into
    key_i = band_{2i} * 2^15 + band_{2i+1}. Pigeonhole: ≤ 3 differing
    bits dirty at most 3 of the 4 disjoint keys, so recall is total for
    Hamming ≤ 3 (the Manku et al. regime); tolerance beyond that is the
    verify stage's job, not the banding's. The key domain is 2^30 per
    key — bucket count GROWS with the corpus instead of saturating at
    the old 60-bit family's 2^15 (VERDICT r04 item 5: each bucket held
    N/32768 docs, a quadratic surface at petabyte scale)."""
    bands = [_simhash_band("sig0", j) for j in range(4)] + [
        _simhash_band("sig1", j) for j in range(4)
    ]
    keyed = signatures.select(
        "doc_id",
        *_SIG_COLS,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("k"),
                        (bands[2 * i] * F.lit(1 << 15) + bands[2 * i + 1])
                        .cast("long")
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("kv"),
    ).select("doc_id", *_SIG_COLS, "kv.k", "kv.val")
    return _banded_pairs(keyed)


def simhash_candidates_wide(signatures: DataFrame, width: int = 4) -> DataFrame:
    """Calibration-corpus banding: 120/width single narrow bands (one
    band value per key, domain 2^width) — pigeonhole guarantees
    candidates for Hamming ≤ 120/width − 1 (29 at the default width 4).
    The tiny key domain makes this viable for calibration corpora only,
    never 100 TB — dedup_simhash_verified uses it to PROVE end-to-end
    recall against the exact-Jaccard oracle; production candidates come
    from simhash_candidates above."""
    n_half = 60 // width
    mask = (1 << width) - 1
    entries = []
    for half, sig_col in enumerate(_SIG_COLS):
        for j in range(n_half):
            entries.append(
                F.struct(
                    F.lit(half * n_half + j).alias("k"),
                    F.shiftrightunsigned(F.col(sig_col), width * j)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    .alias("val"),
                )
            )
    keyed = signatures.select(
        "doc_id", *_SIG_COLS, F.explode(F.array(*entries)).alias("kv")
    ).select("doc_id", *_SIG_COLS, "kv.k", "kv.val")
    return _banded_pairs(keyed)


_SIMHASH_HAMMING_SQL = (
    "bit_count(xor(sig0_a, sig0_b)) + bit_count(xor(sig1_a, sig1_b))"
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {{SIMHASH_SIG}},
    kl AS (
        SELECT doc_id, sig0, sig1, 0 AS k,
               (sig0 & 32767) * 32768 + ((sig0 >> 15) & 32767) AS val
        FROM sig
        UNION ALL
        SELECT doc_id, sig0, sig1, 1,
               ((sig0 >> 30) & 32767) * 32768 + ((sig0 >> 45) & 32767)
        FROM sig
        UNION ALL
        SELECT doc_id, sig0, sig1, 2,
               (sig1 & 32767) * 32768 + ((sig1 >> 15) & 32767)
        FROM sig
        UNION ALL
        SELECT doc_id, sig0, sig1, 3,
               ((sig1 >> 30) & 32767) * 32768 + ((sig1 >> 45) & 32767)
        FROM sig),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sig0 AS sig0_a, a.sig1 AS sig1_a,
               b.sig0 AS sig0_b, b.sig1 AS sig1_b
        FROM kl a JOIN kl b
          ON a.k = b.k AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST({_SIMHASH_HAMMING_SQL} AS INT) AS hamming
    FROM cand WHERE {_SIMHASH_HAMMING_SQL} <= {SIMHASH_T}
    """.replace("{SIMHASH_SIG}", simhash_sig_sql().strip().lstrip()),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection, fully JVM-side: 30-bit-key banded
    candidates verified with the exact popcount ≤ {SIMHASH_T} (of 120
    bits). At 100 TB the band join is the only shuffle and carries
    (key_idx, 30-bit value) composite keys whose 2^30 domain keeps
    buckets small at any corpus size — the round-4 60-bit config capped
    buckets at 2^15 (VERDICT r04 item 5). The portable md5-60-bit hash
    family means the DuckDB oracle rebuilds both signature halves
    bit-for-bit and value-checks the emitted Hamming distances — a full
    verdict on the raw structure (the verified twin below additionally
    proves end-to-end Jaccard recall)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cand = simhash_candidates(simhash_signatures(d))
    hamming = F.bit_count(
        F.col("sig0_a").bitwiseXOR(F.col("sig0_b"))
    ) + F.bit_count(F.col("sig1_a").bitwiseXOR(F.col("sig1_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= SIMHASH_T)
        .select("doc_a", "doc_b", "hamming")
    )


def exact_jaccard_on_pairs(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """The LSH *verification* stage at its production scale shape: exact
    3-gram Jaccard computed ONLY for candidate pairs. Work is
    O(candidates × shingles/doc), not O(n²): candidates join doc_a's
    shingles (shuffle on doc_a), then probe doc_b's shingles on
    (doc_b, shingle) — zero-overlap candidates drop out of the inner join
    (they cannot pass any positive threshold). Returns
    (doc_a, doc_b, jaccard) unrounded."""
    sh = shingles(docs).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_sh = cand.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
    common = (
        a_sh.join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# Oracle for the verified LSH pipelines: the full exact-Jaccard pair set at
# threshold 0.5. The LSH side is candidates ∩ exact-verify ≥ 0.5; equality
# holds iff candidate recall@0.5 is total — the property the banding is
# built for (P(miss) = (1-s)^8 ≤ 2e-8 at s ≥ 0.89, the testdata's near-dup
# band; deterministic on fixed data and asserted here by the driver's
# value hash, the strongest check an approximate structure can get).
JACCARD_VERIFY_SQL = f"""
    WITH {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """


@query("dedup_minhash_verified", oracle=JACCARD_VERIFY_SQL)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production MinHash-LSH dedup pipeline, value-checked:
    band-collision candidates (minhash_candidates) → exact Jaccard on
    candidates only (exact_jaccard_on_pairs) → threshold 0.5. Unlike the
    candidate query above, every emitted pair carries its EXACT Jaccard,
    so the DuckDB oracle (full exact pair set ≥ 0.5) verifies values —
    the driver-green row certifies end-to-end LSH recall, not just shape."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cand = minhash_candidates(minhash_signatures(d))
    return (
        exact_jaccard_on_pairs(d, cand)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


@query("dedup_simhash_verified", oracle=JACCARD_VERIFY_SQL)
def dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-banded dedup pipeline, value-checked: wide-tolerance
    banding (30×4-bit slices of the 120-bit signature — guaranteed
    candidates for Hamming ≤ {SIMHASH_GUARANTEE}) → popcount
    ≤ {SIMHASH_GUARANTEE} prefilter AT the pigeonhole guarantee, so the
    survivor set is exactly "all pairs within the banding's provable
    radius" independent of banding luck → exact Jaccard verify ≥ 0.5 on
    the survivors only. The prefilter exists to prune band-collision
    noise (random pairs sit near Hamming 60 of 120) — cutting it BELOW
    the guarantee silently discards recall the banding already paid for:
    the 30× sweep measured two true Jaccard≥0.5 pairs at Hamming 28,
    which the earlier ≤ {SIMHASH_T} cut dropped (r08 fix; the sf0.1
    family tops out at 13, so the miss only appears at scale). Pairs
    beyond Hamming {SIMHASH_GUARANTEE} are outside any banded-simhash
    guarantee — none observed (measured tail: 28). The oracle (full
    exact pair set ≥ 0.5) checks values, so a driver-green row certifies
    end-to-end recall. The production 4×30-bit-key config (dedup_simhash
    above) trades tolerance for 2^30-key selectivity."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cand = simhash_candidates_wide(simhash_signatures(d))
    hamming = F.bit_count(
        F.col("sig0_a").bitwiseXOR(F.col("sig0_b"))
    ) + F.bit_count(F.col("sig1_a").bitwiseXOR(F.col("sig1_b")))
    near = cand.filter(hamming <= SIMHASH_GUARANTEE).select("doc_a", "doc_b")
    return (
        exact_jaccard_on_pairs(d, near)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


CLUSTERS_SQL = f"""
    WITH RECURSIVE {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
    SELECT node AS doc_id, MIN(lbl) AS cluster_id,
           (node = MIN(lbl)) AS is_canonical
    FROM reach GROUP BY node
"""


@query("dedup_clusters", oracle=CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution — the stage after pair generation that
    every production dedup pipeline needs: candidate pairs → connected
    components → one canonical doc per cluster (min doc_id). Iterative
    min-label propagation: each round, every node takes the min label
    among itself and its neighbors (one join + one hash aggregate), with
    per-round ``localCheckpoint`` applying the same bounded-lineage
    discipline as training (SURVEY.md §4.3). Convergence in O(cluster
    diameter) rounds — near-dup clusters are almost-cliques, so 2-3
    rounds; detected by the label-sum fixpoint (labels only decrease, so
    an unchanged sum IS convergence — one scalar agg per round, no
    row-level diff join). The DuckDB oracle is a recursive-CTE transitive
    closure — affordable at sf0.01, quadratic in cluster size; the
    propagation form ships |V|+|E| rows per round at 100 TB."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    nodes = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    return min_label_components(pairs, nodes).select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


def min_label_components(
    pairs: DataFrame, nodes: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation over
    undirected ``pairs`` (two columns: endpoint a, endpoint b); every row
    of ``nodes`` (column ``node``) gets a label — singletons keep their
    own id. Returns (node, lbl) where lbl = min node id in the component.

    PRECONDITION (ADVICE r08): every endpoint of ``pairs`` must appear in
    ``nodes`` — labels are seeded from edge endpoints (so singleton nodes
    skip the iteration entirely), which means an endpoint OUTSIDE
    ``nodes`` would still propagate its id as a component min-label. All
    callers here derive pairs from the node universe, so the output is
    bit-identical to iterating over the full node table; a new caller
    whose edges can dangle must semi-join pairs against nodes first.

    Per-round localCheckpoint bounds lineage; the label-sum fixpoint
    (labels only decrease) detects convergence with one scalar agg per
    round. Property-tested against a union-find replica in
    tests/test_properties.py."""
    from ..models.common import broadcast_if_fits

    a, b = pairs.columns
    # both directions in ONE pass over pairs (the union-of-selects form
    # carried the whole candidate-generation subtree twice in the plan —
    # the item_cf_similarity lesson, guide §2.4)
    edges = checkpoint(  # reused every round; released below
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                    F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst")
    )
    # iterate ONLY over nodes that touch an edge: singletons can never
    # change label, so shipping the full node table through every round's
    # join+agg+checkpoint is pure overhead (guide §2.3 — shuffle fewer
    # bytes; near-dup graphs are sparse, |touched| << |nodes|). Singletons
    # rejoin with lbl = own id at the end — bit-identical output.
    touched = edges.select(F.col("src").alias("node")).distinct()
    labels = checkpoint(touched.select("node", F.col("node").alias("lbl")))
    # touched-node count is known after the checkpoint (one cheap count on
    # a materialized frame) — broadcast-hint the per-round label join
    # while the 2-BIGINT label table fits (guide §3.1; see pagerank_items)
    label_bytes = labels.count() * 3 * 8
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    converged = False
    for _ in range(max_rounds):
        bl = broadcast_if_fits(labels, label_bytes)
        nbr = (
            edges.join(bl, edges.src == bl.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = checkpoint(
            labels.join(nbr, "node", "left").select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            )
        )
        # the superseded round's checkpoint blocks are dead the moment the
        # new round materializes — release them RDD-level or a long bench/
        # sweep session accumulates one block pair per round per query
        # (the models/base.py lesson; unpersist() alone is a no-op here)
        release_checkpoint(labels)
        labels = new_labels
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    # the returned plan reads only the FINAL labels checkpoint, which the
    # query's registry scope holds until the caller's next query
    release_checkpoint(edges)
    if not converged:
        # The fixpoint check already detects this for free: labels only
        # decrease, so an unchanged sum IS convergence — and a changed sum
        # at exhaustion means some component (diameter > max_rounds, e.g. a
        # long near-dup chain) still carries wrong cluster ids.
        raise RuntimeError(
            f"min_label_components did not converge within {max_rounds} rounds; "
            "a component's diameter exceeds max_rounds — raise max_rounds"
        )
    # singletons (nodes touching no edge) kept their own id throughout —
    # attach them back with lbl = node via one left join; output is
    # bit-identical to iterating over the full node table
    return (
        nodes.select("node")
        .join(labels, "node", "left")
        .select("node", F.coalesce("lbl", "node").alias("lbl"))
    )


# --- edit-distance-verified fuzzy dedup (X57) ----------------------------
# Max edit distance accepted as a near-duplicate. Pairs are sourced from
# the SAME MinHash banding as dedup_minhash_verified (recall at Jaccard
# >= 0.5 is the property the banding is built for); the verify metric is
# character-level Levenshtein instead of shingle Jaccard — the fuzzy-dedup
# variant used when token order and small in-word edits matter (OCR scans,
# templated spam). Spark computes it with the bounded form
# levenshtein(l, r, threshold), which abandons a pair's DP early once the
# distance provably exceeds LEV_MAX — at 100 TB the verify cost is
# O(candidates × len × LEV_MAX), not O(candidates × len²).
LEV_MAX = 64


@query(
    "dedup_levenshtein_verified",
    oracle=f"""
    WITH {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
           ROUND(1 - levenshtein(da.text, db.text) * 1.0
                 / GREATEST(LENGTH(da.text), LENGTH(db.text)), 6) AS sim
    FROM pairs p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    WHERE levenshtein(da.text, db.text) <= {LEV_MAX}
    """,
)
def dedup_levenshtein_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57: fuzzy dedup verified by bounded edit distance — MinHash-LSH
    band candidates -> exact-Jaccard >= 0.5 prefilter (reuses the proven
    candidate path, so the oracle's full exact pair set checks recall) ->
    character-level Levenshtein <= LEV_MAX on the survivors only, via
    Spark's early-abandoning levenshtein(l, r, threshold). Emits the raw
    distance and a normalized similarity; ASCII corpus makes Java
    UTF-16-code-unit and DuckDB character distances identical."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cand = minhash_candidates(minhash_signatures(d))
    ver = (
        exact_jaccard_on_pairs(d, cand)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    texts = d.select("doc_id", "text")
    pairs = ver.join(
        texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")),
        "doc_a",
    ).join(
        texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")),
        "doc_b",
    )
    return (
        pairs.withColumn("lev", F.levenshtein("ta", "tb", LEV_MAX).cast("long"))
        .filter((F.col("lev") >= 0) & (F.col("lev") <= LEV_MAX))
        .select(
            "doc_a",
            "doc_b",
            "lev",
            F.round(
                1 - F.col("lev") / F.greatest(F.length("ta"), F.length("tb")), 6
            ).alias("sim"),
        )
    )


# Containment threshold: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8 flags A
# as (near-)contained in B — the sub-document duplication signal Jaccard
# misses (a paragraph pasted into a much larger doc has low Jaccard but
# containment ≈ 1). Computed on the VERIFIED near-dup pair set (exact
# Jaccard ≥ 0.5, where banding recall is total — see JACCARD_VERIFY_SQL);
# the unconditional sweep needs shingle-inverted-index blocking with
# stop-shingle pruning, whose semantics depend on the pruning threshold —
# declared explicitly as `dedup_containment_sweep` below (df cap = 64).
CONTAIN_T = 0.8

_CONTAIN_SQL = f"""
    WITH {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / sa.n, 6) AS contain_a_in_b,
           ROUND(CAST(c AS DOUBLE) / sb.n, 6) AS contain_b_in_a,
           CAST(CAST(c AS DOUBLE) / LEAST(sa.n, sb.n) >= {CONTAIN_T}
                AS BIGINT) AS is_contained
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """


@query("dedup_containment", oracle=_CONTAIN_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: asymmetric shingle containment on the verified near-dup pair
    set — both directions C(A→B), C(B→A) plus a smaller-side containment
    flag. Jaccard is symmetric and dilutes when sizes differ; containment
    is the measure that catches a document swallowed by a larger one.
    Pipeline: MinHash band candidates → exact common-shingle counts on
    candidates only (O(cand × shingles/doc), the exact_jaccard machinery)
    → per-pair division by each side's own shingle count. Everything
    keyed, nothing all-pairs; the unconditional form is declared as
    `dedup_containment_sweep` below."""
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    cand = minhash_candidates(minhash_signatures(docs))
    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_sh = cand.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
    common = (
        a_sh.join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
    )
    c = F.col("c").cast("double")
    jac = c / (F.col("na") + F.col("nb") - F.col("c"))
    return common.filter(jac >= 0.5).select(
        "doc_a",
        "doc_b",
        F.round(c / F.col("na"), 6).alias("contain_a_in_b"),
        F.round(c / F.col("nb"), 6).alias("contain_b_in_a"),
        (c / F.least("na", "nb") >= CONTAIN_T).cast("long").alias("is_contained"),
    )


# Unconditional containment sweep (VERDICT r07 item 6): the blocking that
# `dedup_containment` defers. Candidates come from a shingle inverted
# index with DECLARED stop-shingle pruning — only shingles whose document
# frequency is <= CONTAIN_DF_CAP generate candidate pairs, so the pair
# volume per shingle is bounded by C(CONTAIN_DF_CAP, 2) and the total by
# (CAP/2) * corpus shingle count, linear in corpus size. That cap is part
# of the operator's semantics (a pair whose ENTIRE overlap sits in
# stop-shingles is declared out of scope — at 100 TB those shingles are
# boilerplate, which the text_boilerplate_share op measures separately);
# the oracle encodes the identical cap, so the value check is exact. The
# containment VALUES are still computed over ALL shingles of a candidate
# pair (the cap gates discovery, not arithmetic). At the test scales the
# cap is vacuous (max df = 7 at sf0.01), so the sweep equals the
# uncapped ideal there while staying bounded at scale.
CONTAIN_DF_CAP = 64

_CONTAIN_SWEEP_SQL = f"""
    WITH {ORACLE_SHINGLES},
    shm AS MATERIALIZED (SELECT doc_id, s FROM sh),
    df AS (SELECT s FROM shm GROUP BY s
           HAVING COUNT(*) BETWEEN 2 AND {CONTAIN_DF_CAP}),
    idx AS (SELECT shm.doc_id, shm.s FROM shm JOIN df USING (s)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM shm GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS c
        FROM cand c
        JOIN shm a ON a.doc_id = c.doc_a
        JOIN shm b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           c AS n_common,
           ROUND(CAST(c AS DOUBLE) / sa.n, 6) AS contain_a_in_b,
           ROUND(CAST(c AS DOUBLE) / sb.n, 6) AS contain_b_in_a
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / LEAST(sa.n, sb.n) >= {CONTAIN_T}
    """


@query("dedup_containment_sweep", oracle=_CONTAIN_SWEEP_SQL)
def dedup_containment_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X360: UNCONDITIONAL containment sweep — every document pair with
    C(smaller→larger) >= 0.8, with no MinHash prefilter and no Jaccard
    floor (`dedup_containment` above only audits the verified near-dup
    set, so a paragraph swallowed by a 100x larger doc — Jaccard ~ 0.01,
    containment ~ 1.0 — never reaches it). Blocking is a shingle
    inverted index with stop-shingle pruning: only shingles with
    2 <= df <= CONTAIN_DF_CAP emit candidate pairs (df=1 can't pair;
    df > CAP is boilerplate), a DECLARED semantic bound that keeps the
    per-shingle pair expansion at C(CAP,2) and the sweep linear in
    corpus size instead of quadratic. Exact common-shingle counts (over
    ALL shingles, uncapped) then verify candidates only — the same
    candidates-then-verify shape as the MinHash ladder, with the index
    replacing the signatures. Plan: keyed aggs + equi-joins throughout;
    no corpus self-join on doc text, no cross join (plan-asserted)."""
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    sh = shingles(docs).persist()
    # inverted index restricted to discriminative shingles
    keep = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= CONTAIN_DF_CAP))
        .select("s")
    )
    idx = sh.join(keep, "s")
    cand = (
        idx.alias("a")
        .join(
            idx.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_sh = cand.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
    common = (
        a_sh.join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
    )
    c = F.col("c").cast("double")
    return common.filter(c / F.least("na", "nb") >= CONTAIN_T).select(
        "doc_a",
        "doc_b",
        F.col("c").alias("n_common"),
        F.round(c / F.col("na"), 6).alias("contain_a_in_b"),
        F.round(c / F.col("nb"), 6).alias("contain_b_in_a"),
    )


# Levenshtein acceptance threshold and the blocking length-band width.
# The band equals FUZZY_LEV_MAX because edit distance >= |len diff| — a
# free lower bound, so the prefilter can never drop a true pair.
FUZZY_LEV_MAX = 3
FUZZY_LEN_BAND = 3


@query(
    "fuzzy_join_blocked",
    oracle=f"""
    WITH vocab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(regexp_split_to_array(p_name, ' ')) AS word
              FROM part)
        GROUP BY word)
    SELECT a.word AS w1, b.word AS w2,
           CAST(levenshtein(a.word, b.word) AS BIGINT) AS dist,
           a.freq AS freq1, b.freq AS freq2
    FROM vocab a JOIN vocab b
      ON SUBSTR(a.word, 1, 1) = SUBSTR(b.word, 1, 1)
     AND a.word < b.word
    WHERE ABS(LENGTH(a.word) - LENGTH(b.word)) <= {FUZZY_LEN_BAND}
      AND levenshtein(a.word, b.word) <= {FUZZY_LEV_MAX}
    """,
)
def fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join over a vocabulary — record-linkage's core
    move: NEVER all-pairs levenshtein (O(|V|²) edit distances), instead
    equi-join on a cheap BLOCKING key (first character), prefilter by the
    length band (|len diff| > d implies edit distance > d — a free lower
    bound), and run the O(len²) verify only on surviving candidates. The
    corpus first collapses to its |vocab| distinct words in one keyed
    agg, so the join input is vocabulary-sized, not corpus-sized; blocks
    are bounded by the first-letter fanout. Recall scope is declared
    honestly: a typo in position 1 escapes the block (production adds a
    second blocking pass keyed on last letter — same plan, unioned
    candidates)."""
    p = load_table(spark, sf_dir, "part")
    vocab = (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn("blk", F.substring("word", 1, 1))
    )
    a = vocab.select(
        F.col("word").alias("w1"), F.col("freq").alias("freq1"), "blk"
    )
    b = vocab.select(
        F.col("word").alias("w2"), F.col("freq").alias("freq2"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("w1") < F.col("w2"))
        .filter(
            F.abs(F.length("w1") - F.length("w2")) <= FUZZY_LEN_BAND
        )
        .withColumn("dist", F.levenshtein("w1", "w2").cast("long"))
        .filter(F.col("dist") <= FUZZY_LEV_MAX)
        .select("w1", "w2", "dist", "freq1", "freq2")
    )


FUZZY_CLUSTERS_SQL = f"""
    WITH RECURSIVE vocab AS (
        SELECT word FROM (
            SELECT DISTINCT UNNEST(regexp_split_to_array(p_name, ' ')) AS word
            FROM part)),
    pairs AS (
        SELECT a.word AS w1, b.word AS w2
        FROM vocab a JOIN vocab b
          ON SUBSTR(a.word, 1, 1) = SUBSTR(b.word, 1, 1)
         AND a.word < b.word
        WHERE ABS(LENGTH(a.word) - LENGTH(b.word)) <= {FUZZY_LEN_BAND}
          AND levenshtein(a.word, b.word) <= {FUZZY_LEV_MAX}),
    edges AS (SELECT w1 AS src, w2 AS dst FROM pairs
              UNION ALL SELECT w2, w1 FROM pairs),
    reach(node, lbl) AS (
        SELECT word, word FROM vocab
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node)
    SELECT node AS word, MIN(lbl) AS cluster_word,
           (node = MIN(lbl)) AS is_canonical
    FROM reach GROUP BY node
"""


@query("dedup_fuzzy_clusters", oracle=FUZZY_CLUSTERS_SQL)
def dedup_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match resolution end-to-end: `fuzzy_join_blocked`'s candidate
    pairs fed through the SAME `min_label_components` machinery as the
    shingle dedup ladder — blocked candidate generation and iterative
    connected components compose unchanged whatever produced the edges
    (MinHash bands there, levenshtein blocks here). Each vocabulary word
    maps to its cluster's lexicographic-min canonical form — the variant
    consolidation step of entity resolution. The propagation machinery
    needs NUMERIC labels (its fixpoint check sums them), so words are
    first dictionary-encoded with `encode_column`'s sorted-rank ids —
    min id IS the lexicographic-min word, so decoding the final label
    reproduces the oracle's MIN(word) canonical exactly."""
    from ..models.common import encode_column
    from ..registry import REGISTRY as _REG

    vocab = (
        load_table(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("word"))
        .distinct()
    )
    enc = encode_column(vocab, "word", "wid").withColumnRenamed("value", "word")
    pairs = (
        _REG["fuzzy_join_blocked"].fn(spark, sf_dir)
        .select("w1", "w2")
        .join(enc.select(F.col("word").alias("w1"), F.col("wid").alias("ida")), "w1")
        .join(enc.select(F.col("word").alias("w2"), F.col("wid").alias("idb")), "w2")
        .select("ida", "idb")
    )
    comp = min_label_components(pairs, enc.select(F.col("wid").alias("node")))
    return (
        comp.join(enc.select(F.col("wid").alias("node"), "word"), "node")
        .join(
            enc.select(
                F.col("wid").alias("lbl"), F.col("word").alias("cluster_word")
            ),
            "lbl",
        )
        .select(
            "word",
            "cluster_word",
            (F.col("word") == F.col("cluster_word")).alias("is_canonical"),
        )
    )


SNM_WINDOW = 5  # sorted-neighborhood width: candidates within w sort ranks
SNM_KEY_LEN = 24


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY LOWER(SUBSTR(trim(text), 1, {SNM_KEY_LEN})),
                            doc_id) - 1 AS rn
        FROM documents),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(b.rn - a.rn AS BIGINT) AS rank_dist
        FROM ranked a JOIN ranked b
          ON b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW}),
    common AS (
        SELECT c.doc_a, c.doc_b, c.rank_dist,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
        GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b, rank_dist,
           ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (SNM) — the OTHER classic candidate
    generator next to hash blocking (`fuzzy_join_blocked`) and LSH
    banding (`dedup_minhash`): sort the corpus on a cheap domain key (a
    normalized text prefix), and candidates are pairs within
    {SNM_WINDOW} sort RANKS — O(n·w) candidates regardless of how skewed
    any blocking key would be, SNM's defining advantage. The global rank
    comes from the `encode_sorted_rank` two-pass block scheme (no
    single-partition window); rank adjacency becomes an EQUI join on
    rank buckets (each row lands in 2 buckets, pairs dedup'd) and
    survivors go through the SAME `exact_jaccard_on_pairs` verify as the
    LSH ladder. Recall on this fixture is total (every true pair is
    within rank distance 2 — measured); the honest caveat is that SNM
    recall depends on the sort key clustering true pairs, which is why
    production runs multi-pass SNM with different keys."""
    from ..models.common import encode_sorted_rank

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.lower(F.substring(F.trim(F.col("text")), 1, SNM_KEY_LEN)),
            # 20-char pad covers any BIGINT (ADVICE r08: lpad TRUNCATES
            # past the width, so an 8-char pad silently corrupted doc_ids
            # at >= 10^8 docs; same-length pads keep the order identical)
            F.lpad(F.col("doc_id").cast("string"), 20, "0"),
        ).alias("sortval"),
    )
    ranked = encode_sorted_rank(
        keyed.select(F.col("sortval").alias("value")), "value", "rn"
    )
    # doc_id is embedded in sortval's zero-padded 20-char suffix (the
    # uniqueness tiebreak) — parse it back instead of joining `keyed` on
    # the full sort-key STRING (r08: that join shuffled the string column
    # a second time and replayed the keyed projection; guide §2.3).
    # Checkpoint: rk is the junction of TWO diamonds (the bucket frame
    # self-joins, and cand feeds both the verify and the final join), so
    # un-pinned it replayed the rank window + parse 4x. |docs| rows of
    # two BIGINTs — one tiny materialization, held by the query's
    # registry scope (ADVICE r08).
    rk = checkpoint(
        ranked.select(
            F.substring(F.col("value"), -20, 20).cast("long").alias("doc_id"),
            "rn",
        )
    )
    b = rk.select(
        "doc_id",
        "rn",
        F.explode(
            F.array(
                F.floor(F.col("rn") / SNM_WINDOW),
                F.floor(F.col("rn") / SNM_WINDOW) + 1,
            )
        ).alias("bucket"),
    )
    cand = (
        b.alias("a")
        .join(b.alias("b"), "bucket")
        .filter(
            (F.col("b.rn") - F.col("a.rn") >= 1)
            & (F.col("b.rn") - F.col("a.rn") <= SNM_WINDOW)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("b.rn") - F.col("a.rn")).cast("long").alias("rank_dist"),
        )
        .distinct()
    )
    # cand feeds the Jaccard verify AND the final rank_dist join —
    # checkpoint the O(n·w)-row candidate set once (see rk above)
    cand = checkpoint(cand)
    verified = exact_jaccard_on_pairs(d, cand.select("doc_a", "doc_b"))
    return (
        cand.join(verified, ["doc_a", "doc_b"])
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "rank_dist", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "minhash_incremental_merge",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_merge_equal
    FROM documents
    WHERE LEN(regexp_split_to_array(trim(text), '\\s+')) >= 6
    """,
)
def minhash_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures are MERGEABLE — the property that makes
    incremental dedup maintenance possible at 100 TB: when a document
    grows (append-only logs, versioned docs), sig(old ∪ delta) is the
    ELEMENTWISE MIN of sig(old) and sig(delta) — no re-shingling of the
    old text. Each document is split into front/back token halves, both
    halves signed independently, min-merged in-row (`zip_with`), and
    compared against the full document's directly-computed signature;
    the count of exact matches is the checked value (== n_docs: the
    merge identity holds for every doc, not statistically). The oracle
    states the IDENTITY — both counts equal the eligible-doc count —
    because the merge law, not any particular hash family, is the claim
    under test (the family itself is value-checked by `dedup_minhash`'s
    signature-recomputing oracle). Shingles that
    STRADDLE the split are assigned to the front half so the union of
    shingle sets is exact — the real-world analog is signing the
    overlap window once, the same discipline as `text_chunk` strides."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    eligible = d.filter(F.size(toks) >= 6).select("doc_id", "text")
    half = (F.size(toks) / 2).cast("int")
    # front half carries the straddle: tokens [1, half+SHINGLE_N-1]
    front = eligible.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(toks, 1, half + F.lit(SHINGLE_N - 1))
        ).alias("text"),
    )
    back = eligible.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(toks, half + 1, F.size(toks) - half)
        ).alias("text"),
    )
    sig_full = minhash_signatures(eligible).select(
        "doc_id", F.col("sig").alias("sig_full")
    )
    sig_f = minhash_signatures(front).select("doc_id", F.col("sig").alias("sf"))
    sig_b = minhash_signatures(back).select("doc_id", F.col("sig").alias("sb"))
    merged = sig_f.join(sig_b, "doc_id").select(
        "doc_id",
        F.zip_with("sf", "sb", lambda a, b: F.least(a, b)).alias("sig_merged"),
    )
    cmp = merged.join(sig_full, "doc_id").select(
        "doc_id", (F.col("sig_merged") == F.col("sig_full")).alias("eq")
    )
    return cmp.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("eq").cast("long")).alias("n_merge_equal"),
    )


@query(
    "dedup_keep_best",
    oracle="""
    WITH src AS (
        SELECT doc_id, text, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 1000000, SUBSTR(text, 1, GREATEST(n_chars - 40, 10)),
               GREATEST(n_chars - 40, 10)
        FROM documents WHERE doc_id % 10 = 0),
    k AS (
        SELECT LOWER(SUBSTR(trim(text), 1, 40)) AS grp, doc_id, n_chars
        FROM src)
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(arg_max(doc_id, n_chars * 10000000 - doc_id) AS BIGINT)
               AS best_doc,
           CAST(MAX(n_chars) AS BIGINT) AS best_len
    FROM k GROUP BY grp
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper selection: when near-copies differ
    (a truncated recrawl vs the full page — planted: every 10th doc
    re-enters 40 chars shorter), keep the BEST copy (longest), not the
    lowest id — `dedup_exact`'s min-id keeper is only right when copies
    are byte-identical. One `max_by` aggregate carries the winner's id
    out of the group directly (the `argmax_per_group` move applied to
    dedup — no rank window, no join-back); the ordering key is the
    composite (length-scaled − doc_id) so equal-length ties break
    deterministically to the LOWEST id on both engines. Grouping is by
    normalized prefix — the blocking key, standing in for the dedup
    ladder's candidate machinery."""
    d = load_table(spark, sf_dir, "documents")
    trunc = F.greatest(F.col("n_chars") - 40, F.lit(10))
    src = d.select("doc_id", "text", "n_chars").unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substr(text, 1, greatest(n_chars - 40, 10))").alias("text"),
            trunc.alias("n_chars"),
        )
    )
    grp = F.lower(F.substring(F.trim(F.col("text")), 1, 40))
    key = F.col("n_chars") * 10000000 - F.col("doc_id")
    return src.groupBy(grp.alias("grp")).agg(
        F.count("*").alias("n_copies"),
        F.max_by("doc_id", key).alias("best_doc"),
        F.max("n_chars").cast("long").alias("best_len"),
    )


@query(
    "dedup_cross_corpus_anti",
    oracle="""
    WITH b AS (SELECT doc_id, md5(text) AS h FROM documents
               WHERE doc_id % 3 = 0),
    ref AS (SELECT DISTINCT md5(text) AS h FROM documents
            WHERE doc_id % 3 <> 0),
    fresh AS (SELECT b.doc_id, b.h FROM b
              LEFT JOIN ref ON b.h = ref.h WHERE ref.h IS NULL)
    SELECT MIN(doc_id) AS doc_id, h AS content_hash,
           CAST(COUNT(*) AS BIGINT) AS n_batch_copies
    FROM fresh GROUP BY h
    """,
)
def dedup_cross_corpus_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X233: incremental-ingest dedup — the nightly-crawl shape that
    within-corpus dedup (dedup_exact) and sketch unioning
    (minhash_incremental_merge) don't cover: a NEW batch (doc_id % 3 = 0
    stands in for tonight's crawl) is admitted only where its content
    hash is unseen in the existing reference corpus (LEFT ANTI join on
    the 32-byte hash — the shuffle carries hashes, never documents),
    then deduped within itself by one keyed aggregate (keeper = min
    doc_id). At 100 TB the reference side is a hash-bucketed table the
    batch anti-joins against bucket-to-bucket with no re-shuffle of the
    corpus; nothing here is sized by the corpus except that one keyed
    lookup."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    ref = (
        d.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    fresh = batch.join(ref, "content_hash", "left_anti")
    return fresh.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_batch_copies"),
    ).select("doc_id", "content_hash", "n_batch_copies")


BOILER_DF = 5  # a shingle in >= this many docs is boilerplate
BOILER_MAX_RATIO = 0.2  # docs above this boilerplate share get flagged


@query(
    "boilerplate_shingle_profile",
    oracle=f"""
    WITH {ORACLE_SHINGLES},
    d AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df >= {BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           ROUND(SUM(CASE WHEN d.df >= {BOILER_DF} THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS boiler_ratio,
           CAST(SUM(CASE WHEN d.df >= {BOILER_DF} THEN 1 ELSE 0 END)
                * 1.0 / COUNT(*) <= {BOILER_MAX_RATIO} AS BIGINT) AS keep
    FROM sh JOIN d ON sh.s = d.s
    GROUP BY sh.doc_id
    """,
)
def boilerplate_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X235: repeated-n-gram boilerplate profiling (the CCNet/RefinedWeb
    line-dedup idea at shingle granularity, which is what survives when
    documents have no line structure): a 3-gram shingle occurring in >=
    {BOILER_DF} distinct documents is boilerplate (navigation chrome,
    license blurbs, templated headers), and a document whose boilerplate
    share exceeds {BOILER_MAX_RATIO:.0%} is flagged for removal. Two
    keyed aggregates around one shingle-keyed equi-join: corpus df is a
    shingle-keyed count (map-side combined), the profile a doc-keyed
    rollup — the exact shape of tfidf_top_terms, so the 100 TB notes
    (posting lists capped by df, stop-shingle pruning) carry over. The
    ratio is one division of exact counts; keep is an integer flag of a
    shared-constant comparison."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d)
    df_counts = sh.groupBy("s").agg(F.count("*").alias("df"))
    boiler = (F.col("df") >= BOILER_DF).cast("long")
    prof = (
        sh.join(df_counts, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(boiler).alias("n_boiler"),
        )
    )
    ratio = F.col("n_boiler") / F.col("n_shingles")
    return prof.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.round(ratio, 6).alias("boiler_ratio"),
        (ratio <= BOILER_MAX_RATIO).cast("long").alias("keep"),
    )


# --- chunk-level rewriting dedup (X248) -----------------------------------

CHUNK_TOKENS = 20
CHUNK_MIN_DOCS = 2  # a chunk seen in >= 2 distinct docs is boilerplate


@query(
    "dedup_chunk_rewrite",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents),
    ch AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               array_to_string(
                   list_slice(t, {CHUNK_TOKENS} * u.i + 1,
                              LEAST({CHUNK_TOKENS} * (u.i + 1), len(t))),
                   ' ') AS chunk
        FROM tok CROSS JOIN
             UNNEST(range(0, (len(t) + {CHUNK_TOKENS - 1}) // {CHUNK_TOKENS}))
             AS u(i)),
    freq AS (
        SELECT md5(chunk) AS h,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM ch GROUP BY md5(chunk)),
    flagged AS (
        SELECT c.doc_id, c.pos, c.chunk,
               (f.nd >= {CHUNK_MIN_DOCS}) AS boiler
        FROM ch c JOIN freq f ON md5(c.chunk) = f.h)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boiler,
           md5(COALESCE(string_agg(chunk, ' ' ORDER BY pos)
                        FILTER (WHERE NOT boiler), '')) AS rebuilt_md5,
           CAST(COALESCE(LENGTH(string_agg(chunk, ' ' ORDER BY pos)
                                FILTER (WHERE NOT boiler)), 0) AS BIGINT)
               AS rebuilt_len
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_chunk_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X248: sub-document REWRITING dedup — the CCNet/RefinedWeb
    line-level dedup move at fixed {CHUNK_TOKENS}-token chunk
    granularity: a chunk whose hash appears in ≥ {CHUNK_MIN_DOCS}
    distinct documents is boilerplate (headers, navigation, licence
    blocks — here: the planted near-dup families) and is REMOVED; the
    document is rebuilt from its surviving chunks in order. Differs from
    boilerplate_shingle_profile (X235), which only FLAGS documents —
    this emits the rewritten corpus, witnessed by rebuilt_md5 +
    rebuilt_len so the driver value-checks the reconstruction
    byte-for-byte. Physical shape: in-row chunking (sequence+slice, the
    text_chunk pattern) → ONE 32-byte-keyed distinct-doc count → ONE
    hash-keyed flag join → per-doc ordered reassembly
    (array_sort(collect_list(struct)) — pos-deterministic, and
    concat_ws drops the NULLed boilerplate slots in-row). The shuffles
    carry hashes and chunk text once each; reassembly state is bounded
    by document size, not corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = F.split(F.trim(F.col("text")), r"\s+")
    n_ch = F.ceil(F.size(t) / F.lit(CHUNK_TOKENS)).cast("int")
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_ch - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(t, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)
                ),
            )
        ).alias("pos", "chunk"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "chunk")
    freq = chunks.groupBy(F.md5("chunk").alias("h")).agg(
        F.countDistinct("doc_id").alias("nd")
    )
    flagged = chunks.withColumn("h", F.md5("chunk")).join(freq, "h").select(
        "doc_id", "pos", "chunk", (F.col("nd") >= CHUNK_MIN_DOCS).alias("boiler")
    )
    kept_chunk = F.when(~F.col("boiler"), F.col("chunk"))
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("boiler").cast("long")).alias("n_boiler"),
        F.array_sort(
            F.collect_list(F.struct("pos", kept_chunk.alias("c")))
        ).alias("sorted"),
    )
    rebuilt = F.concat_ws(" ", F.transform("sorted", lambda s: s["c"]))
    return per_doc.select(
        "doc_id",
        "n_chunks",
        "n_boiler",
        F.md5(rebuilt).alias("rebuilt_md5"),
        F.length(rebuilt).cast("long").alias("rebuilt_len"),
    )


# --- LSH band-count sweep (X249) ------------------------------------------

BAND_SWEEP = [4, 8, 16]


def _band_sweep_oracle() -> str:
    return f"""
    WITH {ORACLE_SHINGLES},
    {_minhash_comp_sql()},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, MIN(a.t) AS mint
        FROM comp a JOIN comp b
          ON a.t = b.t AND a.m = b.m AND a.doc_id < b.doc_id
        WHERE a.t < {max(BAND_SWEEP)}
        GROUP BY 1, 2),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    exact AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
    tagged AS (
        SELECT p.mint, (e.doc_a IS NOT NULL) AS is_true
        FROM pairs p LEFT JOIN exact e
          ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b),
    final AS (
        SELECT CAST(b.n_bands AS INT) AS n_bands,
               CAST(SUM(CASE WHEN t.mint < b.n_bands THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN t.mint < b.n_bands AND t.is_true
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_captured
        FROM (SELECT UNNEST({BAND_SWEEP!r}) AS n_bands) b
        CROSS JOIN tagged t
        GROUP BY b.n_bands),
    tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM exact)
    SELECT f.n_bands, f.n_candidates, f.n_captured, tr.n_true,
           ROUND(CAST(f.n_captured AS DOUBLE) / tr.n_true, 6) AS recall
    FROM final f CROSS JOIN tr
    """


@query("minhash_band_sweep", oracle=_band_sweep_oracle())
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X249: the LSH TUNING CURVE as a checked value — candidate volume
    vs recall@0.5 for 4/8/16 single-row bands, the S-curve tradeoff
    every production dedup config is chosen from (more bands: recall →
    1 − (1−s)^b, but candidates grow linearly in b). Only possible
    because the hash family is the portable literal one: the oracle
    recomputes the SIGNATURES, so the sweep's counts are exact
    cross-engine, not a statistical claim. One component self-join
    (t < 16) tagged with the MINIMUM colliding component per pair feeds
    all three configs (pair ∈ config b iff mint < b) — one join, one
    pair-keyed agg, then a 1-row conditional aggregate stacked to three
    rows; the exact ≥ 0.5 pair set (the shingle machinery) provides the
    truth column. Calibration-scale by design, like the exact Jaccard
    oracle forms: at 100 TB you run it on a sampled shard to pick b,
    then deploy dedup_minhash with the chosen config."""
    d = spread(load_table(spark, sf_dir, "documents"))
    comp = (
        minhash_signatures(d)
        .select("doc_id", F.posexplode("sig").alias("t", "m"))
        .filter(F.col("t") < max(BAND_SWEEP))
    )
    a, b = comp.alias("a"), comp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.m") == F.col("b.m"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.min("a.t").alias("mint"))
    )
    exact = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.lit(True).alias("is_true"))
    )
    tagged = pairs.join(exact, ["doc_a", "doc_b"], "left")
    aggs = []
    for bb in BAND_SWEEP:
        hit = (F.col("mint") < bb).cast("long")
        aggs.append(F.sum(hit).alias(f"cand_{bb}"))
        aggs.append(
            F.sum(hit * F.col("is_true").isNotNull().cast("long")).alias(
                f"capt_{bb}"
            )
        )
    cell = tagged.agg(*aggs).crossJoin(
        F.broadcast(exact.agg(F.count("*").alias("n_true")))
    )
    stack = ", ".join(
        f"{bb}, cand_{bb}, capt_{bb}" for bb in BAND_SWEEP
    )
    return cell.selectExpr(
        f"stack({len(BAND_SWEEP)}, {stack}) AS (n_bands, n_candidates, n_captured)",
        "n_true",
    ).selectExpr(
        "CAST(n_bands AS INT) AS n_bands",
        "n_candidates",
        "n_captured",
        "n_true",
        "ROUND(CAST(n_captured AS DOUBLE) / n_true, 6) AS recall",
    )


FS_FIELDS = ("source", "n_chars", "first_tok", "last_tok")


def _fs_oracle() -> str:
    agree = {
        "source": "a.source = b.source",
        "n_chars": "a.n_chars = b.n_chars",
        "first_tok": "a.first_tok = b.first_tok",
        "last_tok": "a.last_tok = b.last_tok",
    }
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN is_m = 1 AND ({agree[f]}) THEN 1 ELSE 0 END) AS BIGINT) AS am_{f},\n"
        f"               CAST(SUM(CASE WHEN is_m = 0 AND ({agree[f]}) THEN 1 ELSE 0 END) AS BIGINT) AS au_{f}"
        for f in FS_FIELDS
    )
    rows = ", ".join(
        f"('{f}', am_{f}, au_{f})" for f in FS_FIELDS
    )
    return f"""
    WITH f AS (
        SELECT doc_id, lang, source, n_chars,
               n_chars // 50 AS lb,
               md5(array_to_string(list_sort(list_distinct(
                   regexp_split_to_array(trim(lower(text)), '\\s+'))), ' '))
                   AS fp,
               (regexp_split_to_array(trim(lower(text)), '\\s+'))[1]
                   AS first_tok,
               (regexp_split_to_array(trim(lower(text)), '\\s+'))[-1]
                   AS last_tok
        FROM documents),
    pairs AS (
        SELECT a.source, b.source AS source_b, a.n_chars, b.n_chars AS n_chars_b,
               a.first_tok, b.first_tok AS first_tok_b,
               a.last_tok, b.last_tok AS last_tok_b,
               CASE WHEN a.fp = b.fp THEN 1 ELSE 0 END AS is_m
        FROM f a JOIN f b
          ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id),
    agg AS (
        SELECT CAST(SUM(is_m) AS BIGINT) AS n_m,
               CAST(SUM(1 - is_m) AS BIGINT) AS n_u,
               {sums.replace('a.source = b.source', 'source = source_b')
                    .replace('a.n_chars = b.n_chars', 'n_chars = n_chars_b')
                    .replace('a.first_tok = b.first_tok', 'first_tok = first_tok_b')
                    .replace('a.last_tok = b.last_tok', 'last_tok = last_tok_b')}
        FROM pairs),
    stacked AS (
        SELECT n_m, n_u, u.* FROM agg,
        (SELECT UNNEST([{', '.join(f"'{f}'" for f in FS_FIELDS)}]) AS field,
                UNNEST([{', '.join(f'(SELECT am_{f} FROM agg)' for f in FS_FIELDS)}]) AS agree_m,
                UNNEST([{', '.join(f'(SELECT au_{f} FROM agg)' for f in FS_FIELDS)}]) AS agree_u) u)
    SELECT field, n_m AS n_match_pairs, n_u AS n_unmatch_pairs,
           agree_m, agree_u,
           ROUND(CAST(agree_m + 1 AS DOUBLE) / (n_m + 2), 6) AS m_prob,
           ROUND(CAST(agree_u + 1 AS DOUBLE) / (n_u + 2), 6) AS u_prob,
           ROUND(LOG2(CAST(agree_m + 1 AS DOUBLE)) + LOG2(CAST(n_u + 2 AS DOUBLE))
                 - LOG2(CAST(n_m + 2 AS DOUBLE)) - LOG2(CAST(agree_u + 1 AS DOUBLE)),
                 6) AS weight_bits
    FROM stacked ORDER BY field
    """


@query("record_linkage_fs_weights", oracle=_fs_oracle())
def record_linkage_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X280: Fellegi-Sunter record-linkage parameter estimation — the
    probabilistic-matching theory under every entity-resolution stack
    (Splink et al.): for each comparison field, estimate m = P(agree |
    match) and u = P(agree | non-match) over BLOCKED candidate pairs,
    and emit the log2 match weight the scoring pass would sum. Labels
    come from the bag-of-words fingerprint (same sorted token set =
    match — the text_fingerprint key), so the estimation is fully
    self-supervised, the EM-free special case. Laplace (+1/+2)
    smoothing keeps every probability finite; the weight is a 4-term
    log2 of EXACT integers (session_entropy discipline). Plan: one
    blocked self-join — candidates only within (lang, length-bucket)
    blocks, the dedup_sorted_neighborhood containment discipline, never
    all-pairs — then ONE 9-column conditional aggregate to a single
    row, unpivoted in-row to |fields| rows. At 100 TB block sizing is
    the only knob; the agg is map-combinable."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    f = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.expr("n_chars DIV 50").alias("lb"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("fp"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
    )
    b = f.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("n_chars").alias("n_chars_b"),
        F.col("lb").alias("lb_b"),
        F.col("fp").alias("fp_b"),
        F.col("first_tok").alias("first_tok_b"),
        F.col("last_tok").alias("last_tok_b"),
    )
    pairs = f.join(
        b,
        (F.col("lang") == F.col("lang_b"))
        & (F.col("lb") == F.col("lb_b"))
        & (F.col("doc_id") < F.col("doc_b")),
    ).select(
        F.when(F.col("fp") == F.col("fp_b"), 1).otherwise(0).alias("is_m"),
        *[
            (F.col(fld) == F.col(f"{fld}_b")).cast("int").alias(f"ag_{fld}")
            for fld in FS_FIELDS
        ],
    )
    agg = pairs.agg(
        F.sum("is_m").alias("n_m"),
        F.sum(1 - F.col("is_m")).alias("n_u"),
        *[
            F.sum(F.when(F.col("is_m") == 1, F.col(f"ag_{fld}")).otherwise(0)).alias(
                f"am_{fld}"
            )
            for fld in FS_FIELDS
        ],
        *[
            F.sum(F.when(F.col("is_m") == 0, F.col(f"ag_{fld}")).otherwise(0)).alias(
                f"au_{fld}"
            )
            for fld in FS_FIELDS
        ],
    )
    stack_expr = "stack({n}, {args}) AS (field, agree_m, agree_u)".format(
        n=len(FS_FIELDS),
        args=", ".join(f"'{fld}', am_{fld}, au_{fld}" for fld in FS_FIELDS),
    )
    st = agg.select("n_m", "n_u", F.expr(stack_expr))
    w = (
        F.log2((F.col("agree_m") + 1).cast("double"))
        + F.log2((F.col("n_u") + 2).cast("double"))
        - F.log2((F.col("n_m") + 2).cast("double"))
        - F.log2((F.col("agree_u") + 1).cast("double"))
    )
    return st.select(
        "field",
        F.col("n_m").alias("n_match_pairs"),
        F.col("n_u").alias("n_unmatch_pairs"),
        "agree_m",
        "agree_u",
        F.round((F.col("agree_m") + 1).cast("double") / (F.col("n_m") + 2), 6).alias(
            "m_prob"
        ),
        F.round((F.col("agree_u") + 1).cast("double") / (F.col("n_u") + 2), 6).alias(
            "u_prob"
        ),
        F.round(w, 6).alias("weight_bits"),
    ).orderBy("field")


@query(
    "blocking_quality_eval",
    oracle=f"""
    WITH {ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    truth AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
    rk AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY
                   lower(substr(trim(text), 1, {SNM_KEY_LEN}))
                       || '|' || lpad(CAST(doc_id AS VARCHAR), 20, '0'))
                   AS rn
        FROM documents),
    cand AS (
        SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
               GREATEST(a.doc_id, b.doc_id) AS doc_b
        FROM rk a JOIN rk b
          ON b.rn - a.rn >= 1 AND b.rn - a.rn <= {SNM_WINDOW}),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    agg AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM cand JOIN truth USING (doc_a, doc_b)) AS n_hit,
               (SELECT n * (n - 1) // 2 FROM n_docs) AS n_all)
    SELECT n_true, n_cand, n_hit, n_all,
           ROUND(CASE WHEN n_true > 0
                      THEN CAST(n_hit AS DOUBLE) / n_true ELSE 0 END, 6)
               AS pair_completeness,
           ROUND(1.0 - CAST(n_cand AS DOUBLE) / n_all, 6)
               AS reduction_ratio
    FROM agg
    """,
)
def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X354: blocking-quality evaluation — the two numbers every
    entity-resolution pipeline reports for its candidate generator
    (Christen 2012): PAIR COMPLETENESS (recall of the true near-dup
    pairs inside the candidate set) and REDUCTION RATIO (fraction of
    the n(n-1)/2 comparisons avoided). Here it certifies
    dedup_sorted_neighborhood's blocking QUANTITATIVELY: candidates =
    pairs within {SNM_WINDOW} sort ranks of the SNM key (rebuilt with
    the same rank-bucket equi-join, no non-equi join at scale); truth
    = the exact 3-gram Jaccard >= 0.2 pair set (dedup_ngram_jaccard's
    definition). All four counts are exact BIGINTs; PC and RR are
    single divisions, rounded 6. The test pins PC = 1.0 on this
    fixture (the SNM recall claim, now a measured number) and RR near
    1. At 100 TB the candidate join is the SNM rank-bucket equi-join
    and truth-set evaluation runs on a SAMPLE in practice — the
    operator's shape is the audit harness either way."""
    from ..models.common import encode_sorted_rank

    d = load_table(spark, sf_dir, "documents")
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    keyed = d.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.lower(F.substring(F.trim(F.col("text")), 1, SNM_KEY_LEN)),
            # 20-char pad covers any BIGINT (ADVICE r08: lpad TRUNCATES
            # past the width, so an 8-char pad silently corrupted doc_ids
            # at >= 10^8 docs; same-length pads keep the order identical)
            F.lpad(F.col("doc_id").cast("string"), 20, "0"),
        ).alias("sortval"),
    )
    ranked = encode_sorted_rank(
        keyed.select(F.col("sortval").alias("value")), "value", "rn"
    )
    rk = keyed.join(ranked, keyed.sortval == ranked.value).select(
        "doc_id", "rn"
    )
    b = rk.select(
        "doc_id",
        "rn",
        F.explode(
            F.array(
                F.floor(F.col("rn") / SNM_WINDOW),
                F.floor(F.col("rn") / SNM_WINDOW) + 1,
            )
        ).alias("bucket"),
    )
    cand = (
        b.alias("a")
        .join(b.alias("b"), "bucket")
        .filter(
            (F.col("b.rn") - F.col("a.rn") >= 1)
            & (F.col("b.rn") - F.col("a.rn") <= SNM_WINDOW)
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_cand"))
    n_hit = (
        cand.join(truth, ["doc_a", "doc_b"])
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    n_all = d.agg(
        F.expr("COUNT(*) * (COUNT(*) - 1) DIV 2").alias("n_all")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .crossJoin(F.broadcast(n_all))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            "n_all",
            F.round(
                F.when(
                    F.col("n_true") > 0,
                    F.col("n_hit").cast("double") / F.col("n_true"),
                ).otherwise(0.0),
                6,
            ).alias("pair_completeness"),
            F.round(
                1.0 - F.col("n_cand").cast("double") / F.col("n_all"), 6
            ).alias("reduction_ratio"),
        )
    )
