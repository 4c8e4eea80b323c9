"""Cross-engine-reproducible ("portable") hashing for dedup / ANN.

The fast corpus-scale paths (functions/minhash_pandas.py numpy rolling
hashes, operators/similarity.py float hyperplanes / k-means IVF) use hash
families no external SQL engine can replay, so the driver's DuckDB
crosscheck can only rows-count them. This module re-derives every hash
from md5 over *integer* arithmetic so the identical computation is
expressible in both Spark SQL and ANSI/DuckDB SQL:

  - word tokens:     split(trim(lower(text)), '\\s+')
  - 48-bit hash:     first 12 hex digits of md5(token/shingle) as int
  - MinHash family:  sig_i = min over shingles of (A_i*h + B_i) mod P,
                     P = 2^31-1, A/B fixed literals (products < 2^62,
                     no overflow in 64-bit signed math anywhere)
  - SimHash:         48-bit fingerprint, bit b = sign of the sum over
                     distinct tokens of +/-1 per (h >> b) & 1
  - LSH planes:      integer components in [-1000, 1000] derived from
                     md5('plane-i-j'); dot products over *quantized*
                     embeddings (round(x*1e6) as long) are exact integers,
                     so bucket signs can never diverge between engines
  - cosine:          integer dot products combined with one IEEE sqrt /
                     divide — bit-identical across engines, rounded to 6

Statistically these are ordinary MinHash / SimHash / sign-LSH
instantiations (md5 is a fine mixing function; integer hyperplanes are as
uniform as float ones), so the operators built on them are production
operators, not test shims — with the added property that a DuckDB oracle
can verify their output hash-exactly. The pandas/numpy variants remain
the raw-throughput choice; banding, pairing and keep-rule layers are
shared shapes above either hash family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 2147483647  # 2^31 - 1

# Fixed affine families (random.Random(42)); duplicated as literals inside
# the DuckDB oracle SQL in __spark_entry__.py — keep in sync.
A = [1373158607, 239081664, 53710185, 1592467582, 590620972, 525901257,
     479341424, 299655413, 1581559893, 220106708, 1453201079, 1590571866,
     1915941033, 1171165723, 186699714, 1268073013, 906070221, 68252794,
     63989048, 201209006, 469521478, 499635469, 1085242217, 1292825379,
     56985562, 1205264596, 427000597, 1537640409, 1395616197, 1506083911,
     1170252924, 900911955]
B = [473392624, 964669077, 1265438422, 597409992, 1738238661, 1866808229,
     13955983, 1629526405, 1730483678, 342865762, 1499242941, 907557512,
     730682427, 596724164, 333889688, 462382781, 2055599409, 1639591159,
     722831292, 219494902, 199170184, 815887678, 207696843, 770902343,
     1819980297, 738639288, 1296491777, 568054227, 1733294783, 93309105,
     1567087080, 986607411]

NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = 4

_A_SQL = f"array({', '.join(f'{a}L' for a in A)})"
_B_SQL = f"array({', '.join(f'{b}L' for b in B)})"

# Tokenization must agree BY CONSTRUCTION across engines, so no
# locale/engine-defined primitive appears in the spec:
#   - whitespace is the EXPLICIT class [ \t\n\f\r\x0B]+ (Java's \s
#     includes \x0B, RE2's does not — the one ASCII divergence);
#   - case folding is ASCII-only via translate() (identical table in
#     every engine; full Unicode lower() diverges, e.g. U+0130 'İ' maps
#     to 'i'+combining-dot in Java but 'i' in DuckDB);
#   - NO trim() anywhere (Spark strips ASCII spaces, DuckDB strips
#     Unicode spaces incl. U+00A0 — a real divergence on edge nbsp);
#     edge whitespace only yields empty tokens, which are filtered
#     explicitly.
_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LO = "abcdefghijklmnopqrstuvwxyz"
_WS_SPARK = "[ \\\\t\\\\n\\\\f\\\\r\\\\x0B]+"  # inside F.expr single quotes
WS_DUCK = r"[ \t\n\f\r\x0b]+"  # inside a plain SQL string literal


def _toks_sql(text_col: str) -> str:
    """Spark SQL fragment: portable word tokens of `text_col`."""
    return (
        f"filter(split(translate({text_col}, '{_UP}', '{_LO}'), "
        f"'{_WS_SPARK}'), t -> t != '')"
    )


def duck_toks_sql(text_col: str) -> str:
    """DuckDB fragment computing the identical token list."""
    return (
        f"list_filter(string_split_regex(translate({text_col}, "
        f"'{_UP}', '{_LO}'), '{WS_DUCK}'), t -> t != '')"
    )


def h48(s: str) -> str:
    """SQL fragment: 48-bit integer from the md5 of string expression `s`."""
    return f"cast(conv(substring(md5({s}), 1, 12), 16, 10) as bigint)"


def word_tokens(text_col: str) -> Column:
    """Portable word tokens (ASCII-lowered, explicit whitespace class,
    empties filtered); empty array for blank/null text."""
    return F.expr(f"CASE WHEN {text_col} IS NULL THEN array() ELSE {_toks_sql(text_col)} END")


def shingle_hashes_portable(text_col: str, n: int = 3) -> Column:
    """array<long>: mod-P 48-bit hashes of the word n-gram shingles;
    empty when the doc has fewer than n tokens or blank text.

    The token array is bound ONCE per row via a single-element-array
    lambda (`transform(array(<toks>), t -> ...)`): inlining the
    tokenization fragment into the per-shingle lambda would re-split the
    whole document for every shingle index — O(tokens^2) interpreted
    work per row, measured 4x the entire query cost on the documents
    table. Values are unchanged; only evaluation count differs."""
    toks = _toks_sql(text_col)
    gram = f"array_join(slice(t, i, {n}), ' ')"
    return F.expr(
        f"CASE WHEN {text_col} IS NULL THEN array() "
        f"ELSE flatten(transform(array({toks}), t -> "
        f"  CASE WHEN size(t) < {n} THEN array() "
        f"  ELSE transform(sequence(1, size(t) - {n - 1}), "
        f"                 i -> {h48(gram)} % {P}L) END)) END"
    )


def minhash_sig_portable(hashes_col: str) -> Column:
    """array<long> of NUM_HASHES minima over the affine families applied
    to a (possibly empty -> all-null) shingle-hash array column."""
    return F.expr(
        f"transform(sequence(0, {NUM_HASHES - 1}), i -> "
        f"  array_min(transform({hashes_col}, h -> "
        f"    (element_at({_A_SQL}, i + 1) * h + element_at({_B_SQL}, i + 1)) % {P}L)))"
    )


def band_keys_portable(sig_col: str) -> Column:
    """array<string>: BANDS md5 keys over ROWS_PER_BAND-signature slices."""
    return F.expr(
        f"transform(sequence(0, {BANDS - 1}), b -> "
        f"  md5(array_join(transform(slice({sig_col}, b * {ROWS_PER_BAND} + 1, "
        f"      {ROWS_PER_BAND}), x -> cast(x as string)), '-')))"
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_cells(tok_hash_col: str) -> Column:
    """array<struct<i,bucket>>: the count-min-sketch (row, bucket)
    coordinates of a mod-P token hash under the first CMS_DEPTH affine
    families (the same A/B literals the MinHash family uses, so the
    DuckDB oracle replays the bucketing exactly). CMS_DEPTH x CMS_WIDTH
    = 4096 cells total: the sketch matrix is BOUNDED state — per-token
    occurrences fold into cells via an ordinary groupBy whose map-side
    partial aggregation IS the per-partition sketch merge (cell-wise
    addition), the property that makes CMS re-aggregatable across
    shards/days at 100 TB where exact token counts need a full reshuffle
    of the raw token stream."""
    return F.expr(
        f"transform(sequence(0, {CMS_DEPTH - 1}), i -> named_struct("
        f"'i', i, 'bucket', ((element_at({_A_SQL}, i + 1) * {tok_hash_col}"
        f" + element_at({_B_SQL}, i + 1)) % {P}L) % {CMS_WIDTH}L))"
    )


BLOOM_K = 3
BLOOM_M = 65536


def bloom_positions(hv_col: str) -> Column:
    """array<long>: the BLOOM_K bit positions of a mod-P hash under the
    first BLOOM_K affine families mod BLOOM_M (same A/B literals as the
    MinHash/CMS families, so a DuckDB oracle replays the bit addressing
    exactly). Like CMS, the filter itself is BOUNDED state (BLOOM_M
    bits): membership bits fold in via an ordinary distinct/groupBy
    whose map-side partial aggregation is the per-partition filter
    merge (bitwise OR == set union of positions) — the re-aggregatable
    shape that makes Bloom filters shippable across shards at 100 TB,
    where broadcasting the raw eval-set n-grams would not be."""
    return F.expr(
        f"transform(sequence(0, {BLOOM_K - 1}), i -> "
        f"((element_at({_A_SQL}, i + 1) * {hv_col}"
        f" + element_at({_B_SQL}, i + 1)) % {P}L) % {BLOOM_M}L)"
    )


def simhash48_portable(text_col: str) -> Column:
    """48-bit SimHash fingerprint over distinct word tokens; bit b is 1
    when the +/-1 vote sum for (h >> b) & 1 is >= 0. Blank/null docs get
    fingerprint 0 (callers gate participation)."""
    toks = f"array_distinct({_toks_sql(text_col)})"
    return F.expr(
        f"CASE WHEN {text_col} IS NULL OR size({toks}) = 0 THEN 0L "
        f"ELSE aggregate(sequence(0, 47), 0L, (acc, b) -> acc + "
        f"  CASE WHEN aggregate(transform({toks}, t -> {h48('t')}), 0L, "
        f"            (s, h) -> s + (shiftright(h, b) & 1) * 2 - 1) >= 0 "
        f"       THEN shiftleft(1L, b) ELSE 0L END) END"
    )


def quantize_embedding(vec_col: str) -> Column:
    """array<long>: round(x * 1e6) per component — exact integer dot
    products downstream, identical in any engine."""
    return F.expr(
        f"transform({vec_col}, x -> cast(round(cast(x as double) * 1000000d, 0) as bigint))"
    )


def plane_component(i: int, j: int, prefix: str = "plane") -> int:
    """Integer hyperplane component (i, j) = (h32(md5('<prefix>-i-j'))
    mod 2001) - 1000 — the exact derivation the DuckDB oracle replays
    with ('0x' || substr(md5('<prefix>-' || i || '-' || j), 1, 8))::BIGINT.
    Distinct prefixes give statistically independent plane families
    (LSH buckets vs random projections)."""
    import hashlib

    h = hashlib.md5(f"{prefix}-{i}-{j}".encode()).hexdigest()
    return (int(h[:8], 16) % 2001) - 1000


def lsh_plane_bucket(qvec_col: str, bits: int = 12, dim: int = 64) -> Column:
    """Integer sign-LSH bucket id of a quantized embedding: bit i is the
    sign of the dot product with the md5-derived integer plane i.

    The plane matrix is CONSTANT, so it is derived driver-side (see
    plane_component — byte-identical to the oracle's in-SQL derivation)
    and embedded as literals: deriving it inside the lambda would
    re-evaluate bits*dim interpreted md5 calls per row (measured 10x the
    whole query cost at sf0.01)."""
    planes = "array(" + ", ".join(
        "array(" + ", ".join(f"{plane_component(i, j)}L" for j in range(dim)) + ")"
        for i in range(bits)
    ) + ")"
    dot = (
        f"aggregate(zip_with(element_at({planes}, i + 1), {qvec_col}, "
        f"(p, x) -> p * x), 0L, (acc, v) -> acc + v)"
    )
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (bk, i) -> "
        f"  bk + CASE WHEN ({dot}) >= 0 THEN shiftleft(1L, i) ELSE 0L END)"
    )


def quantized_cosine(a_col: str, b_col: str) -> Column:
    """Cosine over quantized vectors: integer dots + one IEEE sqrt/divide,
    rounded to 6 — bit-identical across engines."""
    d = f"aggregate(zip_with({a_col}, {b_col}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    na = f"sqrt(cast(aggregate(zip_with({a_col}, {a_col}, (x, y) -> x * y), 0L, (acc, v) -> acc + v) as double))"
    nb = f"sqrt(cast(aggregate(zip_with({b_col}, {b_col}, (x, y) -> x * y), 0L, (acc, v) -> acc + v) as double))"
    return F.expr(f"round(cast({d} as double) / ({na} * {nb}), 6)")
