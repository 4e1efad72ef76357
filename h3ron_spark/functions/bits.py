"""Bit-level H3 index functions as pure Spark Column expressions.

Everything in this module compiles to JVM-side expressions inside
whole-stage codegen — zero Python/UDF overhead, so these are safe in
the hot path of a 100 TB scan. They mirror (capability-wise) the
reference's index accessors:

- resolution:    h3ron/src/index.rs:19-21, columnar
                 h3ron-polars/src/algorithm/chunkedarray/resolution.rs:11-26
- base cell:     h3ron/src/cell.rs:249-252
- parent:        h3ron/src/cell.rs:102-113
- center child:  h3ron/src/cell.rs:328-339
- pentagon:      h3ron/src/cell.rs:244-247
- validity:      h3ron/src/cell.rs:56-63 (isValidCell)
- direction:     h3ron/src/direction.rs:22-139
- hex parse/fmt: h3ron/src/cell.rs:342-437
- hierarchy predicates: h3ron/src/cell.rs:87-100
- edge accessors: h3ron/src/directed_edge.rs:89-137

Bit layout of an H3 index (public Uber H3 spec):

    bit  63     : reserved, always 0
    bits 59..62 : mode (1 = cell, 2 = directed edge)
    bits 56..58 : reserved (0) for cells; edge direction (1..6) for edges
    bits 52..55 : resolution r in 0..15
    bits 45..51 : base cell 0..121
    bits 0..44  : 15 3-bit digits for res 1..15, MSB-first;
                  digits past r are all set to 7 (0b111)

Valid cell indexes have bit 63 = 0, so unsigned u64 <-> signed int64
is lossless and order-preserving; we store cells as LongType.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- layout constants (public H3 spec) ---
MODE_CELL = 1
MODE_DIRECTED_EDGE = 2
RES_OFFSET = 52
BASE_CELL_OFFSET = 45
MODE_OFFSET = 59
RESERVED_OFFSET = 56
RES_MASK = 15 << RES_OFFSET
BASE_CELL_MASK = 127 << BASE_CELL_OFFSET
MODE_MASK = 15 << MODE_OFFSET
RESERVED_MASK = 7 << RESERVED_OFFSET
DIGITS_MASK = (1 << 45) - 1
NUM_BASE_CELLS = 122
MAX_RES = 15

# The 12 pentagon base cells (public H3 spec).
PENTAGON_BASE_CELLS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _lit_or_col(res) -> Column:
    return F.lit(res) if isinstance(res, int) else _c(res)


def _ones(nbits: Column) -> Column:
    """(1 << nbits) - 1 for a *column* bit count 0..45.

    PySpark's shiftleft only takes a Python int shift, so use exact
    double pow (2^45 < 2^53, exact in IEEE double).
    """
    return F.pow(F.lit(2.0), nbits.cast("double")).cast("long") - F.lit(1)


# ---------------------------------------------------------------- accessors

def h3_get_resolution(cell) -> Column:
    """Resolution 0..15 of a cell/edge index (S4/D1). Pure bit math."""
    return F.shiftrightunsigned(_c(cell), RES_OFFSET).bitwiseAND(F.lit(15)).cast("int")


def h3_get_base_cell(cell) -> Column:
    """Base cell number 0..121 (S17)."""
    return (
        F.shiftrightunsigned(_c(cell), BASE_CELL_OFFSET)
        .bitwiseAND(F.lit(127))
        .cast("int")
    )


def h3_get_mode(cell) -> Column:
    return F.shiftrightunsigned(_c(cell), MODE_OFFSET).bitwiseAND(F.lit(15)).cast("int")


def h3_get_reserved(cell) -> Column:
    return (
        F.shiftrightunsigned(_c(cell), RESERVED_OFFSET)
        .bitwiseAND(F.lit(7))
        .cast("int")
    )


def h3_get_index_digit(cell, res) -> Column:
    """3-bit digit (direction 0..7) of ``cell`` at resolution ``res`` (1..15).

    Mirrors H3Direction extraction (h3ron/src/direction.rs:105-139):
    ``(cell >> (3 * (15 - res))) & 7``.
    """
    if isinstance(res, int):
        shift = 3 * (MAX_RES - res)
        return F.shiftrightunsigned(_c(cell), shift).bitwiseAND(F.lit(7)).cast("int")
    # Column resolution: variable shift via exact double pow. Mask the
    # 3 digit bits first so the double division is exact (t <= 7*2^42
    # < 2^53, and t is an exact multiple of the divisor).
    nbits = (F.lit(3) * (F.lit(MAX_RES) - _lit_or_col(res))).cast("double")
    p2 = F.pow(F.lit(2.0), nbits)
    mask = (p2 * F.lit(7.0)).cast("long")
    t = _c(cell).bitwiseAND(mask)
    return (t.cast("double") / p2).cast("int")


def h3_direction_to_parent(cell, target_res=None) -> Column:
    """``direction_to_parent_resolution`` (h3ron/src/direction.rs:
    62-117): reads the digit AT ``target_res`` — offset(t) =
    3*(15-t) — exactly as the reference does (its unit tests pin
    direction_to_parent_resolution(0x8518607bfffffff, 4) == 3, the
    res-4 digit). Default target is res-1 (``direction_to_parent``,
    saturating at 0 like the reference's saturating_sub). Errors map
    to NULL: target beyond the cell's res (ResMismatch) or a digit of
    7 (DirectionInvalid — also covers the res-0 base-cell-bits read
    the reference's can_fail_with_res_0 test pins)."""
    res = h3_get_resolution(cell)
    if target_res is None:
        t = F.greatest(res - F.lit(1), F.lit(0))
        d = h3_get_index_digit(cell, t)
    elif isinstance(target_res, int):
        t = F.lit(target_res)
        d = h3_get_index_digit(cell, target_res)  # static-shift path
    else:
        t = _lit_or_col(target_res)
        d = h3_get_index_digit(cell, t)
    return F.when((t <= res) & (d != 7), d)


def h3_directions_over_resolutions(cell) -> Column:
    """array<int> of the direction digits from resolution 1 down to
    res(cell) — ``iter_directions_over_resolutions``,
    h3ron/src/direction.rs:105-139. Pure JVM: sequence + transform of
    the digit extraction, no UDF."""
    c = _c(cell)

    def digit(r):
        nbits = (F.lit(3) * (F.lit(MAX_RES) - r)).cast("double")
        p2 = F.pow(F.lit(2.0), nbits)
        mask = (p2 * F.lit(7.0)).cast("long")
        return (c.bitwiseAND(mask).cast("double") / p2).cast("int")

    return F.transform(
        F.sequence(F.lit(1), h3_get_resolution(c)), digit
    )


# Public H3 4.1 average-hexagon tables (pentagons excluded), the same
# compiled-in constants libh3's getHexagonAreaAvg*/getHexagonEdgeLengthAvg*
# return (reference surface: h3ron/src/cell.rs:283-326 area_avg_*,
# h3ron/src/directed_edge.rs:51-77 edge_length_avg_* and
# cell_centroid_distance_avg_m).
_AVG_HEX_AREA_KM2 = (
    4357449.416078381, 609788.441794133, 86801.780398997,
    12393.434655088, 1770.347654491, 252.903858182,
    36.129062164, 5.161293360, 0.737327598,
    0.105332513, 0.015047502, 0.002149643,
    0.000307092, 0.000043870, 0.000006267, 0.000000895,
)
_AVG_EDGE_LEN_KM = (
    1281.256011, 483.0568391, 182.5129565, 68.97922179,
    26.07175968, 9.854090990, 3.724532667, 1.406475763,
    0.531414010, 0.200786148, 0.075863783, 0.028663897,
    0.010830188, 0.004092010, 0.001546100, 0.000584169,
)
_SQRT_3 = 1.7320508075688772


def _res_lookup(res, table) -> Column:
    return F.element_at(
        F.array(*[F.lit(v) for v in table]), _lit_or_col(res).cast("int") + 1
    )


def h3_hexagon_area_avg_km2(res) -> Column:
    """Average hexagon area at a resolution, km^2 (S18 area_avg_km2) —
    16-entry literal lookup, JVM-side."""
    return _res_lookup(res, _AVG_HEX_AREA_KM2)


def h3_edge_length_avg_km(res) -> Column:
    """Average hexagon edge length at a resolution, km (S23
    edge_length_avg_km, directed_edge.rs:51-61)."""
    return _res_lookup(res, _AVG_EDGE_LEN_KM)


def h3_edge_length_avg_m(res) -> Column:
    return _res_lookup(res, _AVG_EDGE_LEN_KM) * F.lit(1000.0)


def h3_cell_centroid_distance_avg_m(res) -> Column:
    """Average distance between neighbor cell centroids at a
    resolution: edge_length_avg_m * sqrt(3) (twice the height of the
    equilateral half-triangle; directed_edge.rs:71-77, :286-301)."""
    return h3_edge_length_avg_m(res) * F.lit(_SQRT_3)


# ---------------------------------------------------------------- hierarchy

def h3_to_parent(cell, parent_res) -> Column:
    """Parent cell at ``parent_res`` (S6). NULL when parent_res > res(cell).

    Set the res field to parent_res and fill all finer digits with 7.
    """
    c = _c(cell)
    if isinstance(parent_res, int):
        ones = F.lit((1 << (3 * (MAX_RES - parent_res))) - 1)
        pr = F.lit(parent_res)
    else:
        pr = _c(parent_res)
        ones = _ones(F.lit(3) * (F.lit(MAX_RES) - pr))
    parent = (
        c.bitwiseOR(ones)
        .bitwiseAND(F.lit(~RES_MASK))
        .bitwiseOR(F.shiftleft(pr.cast("long"), RES_OFFSET))
    )
    return F.when(h3_get_resolution(c) >= pr, parent)


def h3_ancestors(cell) -> Column:
    """Every coarser ancestor of the cell (res-1 down to 0) as an
    array<long> — pure bit math, empty for res-0 cells, NULL for
    invalid input. The building block for containment set-algebra
    (purge_children, ancestor semi-joins) without any geodesic work."""
    c = _c(cell)
    res = h3_get_resolution(c)
    # positive guards: a NULL cell makes both conditions NULL, so it
    # falls through to the implicit NULL branch (a negated guard would
    # send NULL input to the empty-array arm instead)
    return F.when(
        h3_is_valid_cell(c) & (res > 0),
        F.transform(
            F.sequence(res - 1, F.lit(0), F.lit(-1)),
            lambda r: h3_to_parent(c, r),
        ),
    ).when(h3_is_valid_cell(c), F.array().cast("array<long>"))


def h3_to_center_child(cell, child_res) -> Column:
    """Center child at ``child_res`` (S8). NULL when child_res < res(cell).

    Zero the digits between res(cell)+1 and child_res, keep the rest 7.
    """
    c = _c(cell)
    res = h3_get_resolution(c)
    cr = _lit_or_col(child_res)
    ones_below_res = _ones(F.lit(3) * (F.lit(MAX_RES) - res))
    ones_below_child = _ones(F.lit(3) * (F.lit(MAX_RES) - cr))
    # Bits res+1..child_res are all ones in the input (unused digits are
    # 7), so clearing them is an exact subtraction.
    clear = ones_below_res - ones_below_child
    child = (
        (c - clear)
        .bitwiseAND(F.lit(~RES_MASK))
        .bitwiseOR(F.shiftleft(cr.cast("long"), RES_OFFSET))
    )
    return F.when(res <= cr, child)


def h3_to_children_nextres(cell) -> Column:
    """All children one resolution finer, as array<long> (S7, depth 1).

    Pure SQL path: center child + digit d at the new res for d in 0..6;
    pentagons skip digit 1 (the deleted K axis). Deeper descent uses the
    vectorized numpy kernel in functions.geo.
    """
    c = _c(cell)
    res = h3_get_resolution(c)
    child_res = res + F.lit(1)
    center = h3_to_center_child(c, child_res)
    shift = (F.lit(3) * (F.lit(MAX_RES) - child_res)).cast("double")
    step = F.pow(F.lit(2.0), shift).cast("long")
    digits = F.when(h3_is_pentagon(c), F.array([F.lit(d) for d in (0, 2, 3, 4, 5, 6)])).otherwise(
        F.array([F.lit(d) for d in range(7)])
    )
    return F.when(
        res < MAX_RES,
        F.transform(digits, lambda d: center + d.cast("long") * step),
    )


def h3_is_parent_of(parent, child) -> Column:
    """True when ``parent`` is an ancestor-or-self of ``child`` (S9)."""
    p, ch = _c(parent), _c(child)
    return (h3_get_resolution(p) <= h3_get_resolution(ch)) & (
        h3_to_parent(ch, h3_get_resolution(p)) == p
    )


def h3_is_child_of(child, parent) -> Column:
    return h3_is_parent_of(parent, child)


# ---------------------------------------------------------------- predicates

def h3_is_pentagon(cell) -> Column:
    """True iff the cell is one of the 12 pentagons at its resolution (S16).

    A cell is a pentagon iff its base cell is a pentagon base cell and
    every used digit is 0 (center path).
    """
    c = _c(cell)
    res = h3_get_resolution(c)
    ones_below = _ones(F.lit(3) * (F.lit(MAX_RES) - res))
    digits_zero = c.bitwiseAND(F.lit(DIGITS_MASK)) == ones_below.bitwiseAND(
        F.lit(DIGITS_MASK)
    )
    return h3_get_base_cell(c).isin(list(PENTAGON_BASE_CELLS)) & digits_zero


def h3_is_res_class_iii(cell) -> Column:
    """True for odd (Class III) resolutions — rotated ~19.1° vs Class II."""
    return h3_get_resolution(_c(cell)) % 2 == 1


# every 3rd bit over the 15 digit groups: 0b001001...001 (45 bits)
_DIGIT_LSB_MASK = int("001" * 15, 2)


def h3_is_valid_cell(cell) -> Column:
    """Full cell validity predicate (S5) as a pure SQL expression.

    Checks: high bit 0, mode == 1, reserved bits 0, base cell < 122,
    used digits in 0..6, unused digits all 7, and the pentagon
    deleted-subsequence rule (leading nonzero digit != 1 / K axis).
    NULL input propagates NULL (the invalid->NULL contract, SURVEY §1.2).

    Uses SWAR bit tricks instead of per-digit loops so the whole check
    stays one small codegen'd expression:
    - a digit is 7 iff all 3 bits of its group are set, detected with
      ``x & (x>>1) & (x>>2)`` masked to group LSBs;
    - the leading nonzero digit is 1 iff the MSB position of the used
      digit bits is ≡ 0 (mod 3) (digit 1 = 0b001 contributes only the
      group LSB, and any higher nonzero group would own the MSB).
    """
    c = _c(cell)
    res = h3_get_resolution(c)
    base = h3_get_base_cell(c)
    pent = base.isin(list(PENTAGON_BASE_CELLS))
    ones_below = _ones(F.lit(3) * (F.lit(MAX_RES) - res))
    trailing_ok = c.bitwiseAND(ones_below) == ones_below

    x = c.bitwiseAND(F.lit(DIGITS_MASK))
    sevens = (
        x.bitwiseAND(F.shiftrightunsigned(x, 1))
        .bitwiseAND(F.shiftrightunsigned(x, 2))
        .bitwiseAND(F.lit(_DIGIT_LSB_MASK))
    )
    used_sevens = sevens.bitwiseAND(ones_below.bitwiseXOR(F.lit(DIGITS_MASK)))
    used_digits_ok = used_sevens == 0

    # used digit bits only (unused trailing 7s cleared)
    z = x - x.bitwiseAND(ones_below)
    msb = F.floor(F.log2(z.cast("double"))).cast("int")
    lead_is_k = (z != 0) & (msb % 3 == 0)

    return (
        (c >= 0)
        & (h3_get_mode(c) == MODE_CELL)
        & (h3_get_reserved(c) == 0)
        & (base < NUM_BASE_CELLS)
        & trailing_ok
        & used_digits_ok
        & (~pent | ~lead_is_k)
    )


# ---------------------------------------------------------------- edges

def h3_edge_origin(edge) -> Column:
    """Origin cell of a directed edge: clear mode+reserved back to cell."""
    e = _c(edge)
    return (
        e.bitwiseAND(F.lit(~(MODE_MASK | RESERVED_MASK)))
        .bitwiseOR(F.lit(MODE_CELL << MODE_OFFSET))
    )


def h3_edge_direction(edge) -> Column:
    """Edge direction 1..6 stored in the reserved bits."""
    return h3_get_reserved(_c(edge))


def h3_is_valid_directed_edge(edge) -> Column:
    e = _c(edge)
    d = h3_edge_direction(e)
    origin_ok = h3_is_valid_cell(h3_edge_origin(e))
    pent_k = h3_is_pentagon(h3_edge_origin(e)) & (d == 1)
    return (
        (e >= 0)
        & (h3_get_mode(e) == MODE_DIRECTED_EDGE)
        & (d >= 1)
        & (d <= 6)
        & origin_ok
        & ~pent_k
    )


# ---------------------------------------------------------------- strings

def h3_to_string(cell) -> Column:
    """Canonical lowercase hex form (S28); valid indexes are 15 chars."""
    return F.lower(F.hex(_c(cell)))


def h3_from_string(s) -> Column:
    """Parse hex form back to a long (S28)."""
    return F.conv(_c(s), 16, 10).cast("long")


def h3_parse_numeric(s) -> Column:
    """S28 numeric parse forms with the reference's precedence
    (`h3ron/src/cell.rs:375-397`): try the hex form first, then a
    decimal u64 — each accepted only when the parsed value is a valid
    H3 cell, otherwise fall through; NULL when neither form yields a
    valid cell. Pure JVM expressions (regexp guard + conv/cast), so
    this stays inside whole-stage codegen.

    The coordinate form (``"x,y,resolution"``, cell.rs:425-437) needs
    the encode kernel — :func:`h3ron_spark.functions.geo.h3_parse`
    layers it on top of this function.

    Note: an all-digit string like ``"617700169518678015"`` is tried
    as hex FIRST (matching the reference, where stringToH3 runs before
    the u64 parse) — the decimal reading only wins when the hex
    reading is not a valid cell index.
    """
    t = F.trim(_c(s).cast("string"))
    hex_ok = t.rlike("^[0-9a-fA-F]{1,16}$")
    # conv() yields the UNSIGNED decimal string; >= 2^63 overflows the
    # long cast (ANSI) — try_cast sends those to NULL, and bit-63-set
    # values are invalid cells anyway
    hex_val = F.when(hex_ok, F.conv(t, 16, 10).try_cast("long"))
    # 19 digits caps at 9.99e18 > 2^63; the cast overflows to NULL via
    # try-semantics below, and bit-63-set values are invalid cells
    dec_ok = t.rlike("^[0-9]{1,19}$")
    dec_val = F.when(dec_ok, t.try_cast("long"))
    return (
        F.when(h3_is_valid_cell(hex_val), hex_val)
        .when(h3_is_valid_cell(dec_val), dec_val)
        .otherwise(F.lit(None).cast("long"))
    )


# ---------------------------------------------------------------- builders

def h3_build_cell(base_cell, digits, res: int) -> Column:
    """Assemble a cell index from (base_cell column, list of digit columns).

    ``digits`` supplies the first len(digits) digits; remaining digits up
    to ``res`` are 0 (center path), digits past ``res`` are 7. With a
    non-pentagon base cell and digits in 0..6 the result is always valid.
    Used to synthesize deterministic cell columns from integer test data
    in a form DuckDB can replicate for the oracle.
    """
    if res < 0 or res > MAX_RES or len(digits) > res:
        raise ValueError("invalid res/digits")
    c = F.lit(MODE_CELL << MODE_OFFSET).bitwiseOR(F.lit(res << RES_OFFSET))
    c = c.bitwiseOR(F.shiftleft(_c(base_cell).cast("long"), BASE_CELL_OFFSET))
    for i, d in enumerate(digits, start=1):
        c = c.bitwiseOR(F.shiftleft(_c(d).cast("long"), 3 * (MAX_RES - i)))
    c = c.bitwiseOR(F.lit((1 << (3 * (MAX_RES - res))) - 1))
    return c
