"""Engine column functions: OSM tag/coordinate helpers.

All built on ``pyspark.sql.functions`` (JVM-side, codegen'd) — no Python
UDFs. These close the scalar-function gap the reference delegates to
external engines (SURVEY §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tag(col: Column | str, key: str) -> Column:
    """``tags['key']`` — null-safe map access."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(c, key)


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (WGS84 mean radius)."""
    r = 6_371_008.8
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2 * r) * F.asin(F.sqrt(a))


# --- Z-order spatial clustering ---------------------------------------------------
#
# The reference's output preserves no ordering (README.md:88); our sink
# already offers id-clustering for id zone maps. Z-ORDER clustering is the
# spatial analog: interleaving the bits of quantized lat/lon gives a sort
# key under which every parquet row group covers a small bounding box, so
# a lat/lon range predicate prunes row groups via min/max stats — the
# scan shape a 100 TB planet-scale spatial query needs. Pure integer
# Catalyst arithmetic (codegen'd, no UDF), bit-reproducible in ANSI SQL.

ZORDER_BITS = 16


def _quant_expr(col: str, lo: float, span: float, bits: int) -> str:
    m = (1 << bits) - 1
    q = f"cast(floor(({col} - {lo}d) / {span}d * {m}) AS BIGINT)"
    return f"greatest(0L, least({m}L, {q}))"


def zorder_interleave_expr(u: str, v: str, bits: int = ZORDER_BITS) -> str:
    """Bit-interleave two ``bits``-wide non-negative BIGINT expressions:
    u's bit i lands at position 2i, v's at 2i+1 (Morton code).

    Emitted as a FLAT 2*bits-term shiftleft/+ chain, not a higher-order
    ``aggregate(sequence(...))`` fold: Catalyst interprets lambda
    functions per element (~30x slower than codegen — the same penalty
    measured for gram shingling, see operators/dedup.py grams_exploded),
    while the flat chain stays inside whole-stage codegen."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({u}, {i}) & 1L, {2 * i})")
        terms.append(f"shiftleft(shiftright({v}, {i}) & 1L, {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def with_zorder(df, lat_col: str = "lat", lon_col: str = "lon",
                bits: int = ZORDER_BITS):
    """Add ``zu``/``zv`` (quantized coords) and ``zkey`` (Morton code).
    Sort/repartitionByRange by ``zkey`` before writing to get spatially
    clustered row groups; drop the helper columns afterwards."""
    d = df.withColumn(
        "zu", F.expr(_quant_expr(lat_col, -90.0, 180.0, bits))
    ).withColumn("zv", F.expr(_quant_expr(lon_col, -180.0, 360.0, bits)))
    return d.withColumn(
        "zkey", F.expr(zorder_interleave_expr("zu", "zv", bits))
    )


def _interleave_py(u: int, v: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((u >> i) & 1) << (2 * i)
        z |= ((v >> i) & 1) << (2 * i + 1)
    return z


def zorder_ranges(
    lat_min: float, lat_max: float, lon_min: float, lon_max: float,
    bits: int = ZORDER_BITS, max_depth: int = 6,
) -> list[tuple[int, int]]:
    """Quadtree cover of a lat/lon bbox as sorted, merged, disjoint
    [lo, hi] Z-key ranges — the query-side complement of ``with_zorder``.
    Cells fully inside the quantized query box emit their whole z-range;
    straddling cells recurse to ``max_depth`` then over-approximate, so
    the cover is a SUPERSET of the exact box (callers re-apply the exact
    predicate; see ``zorder_bbox_filter``). Driver-side pure arithmetic:
    O(4^max_depth) worst case, a few hundred ranges at depth 6."""
    m = (1 << bits) - 1

    def quant(x: float, lo: float, span: float) -> int:
        return max(0, min(m, int(((x - lo) / span) * m)))

    qu = (quant(lat_min, -90.0, 180.0), quant(lat_max, -90.0, 180.0))
    qv = (quant(lon_min, -180.0, 360.0), quant(lon_max, -180.0, 360.0))
    out: list[tuple[int, int]] = []

    def rec(depth: int, u0: int, v0: int) -> None:
        shift = bits - depth
        ulo, uhi = u0 << shift, ((u0 + 1) << shift) - 1
        vlo, vhi = v0 << shift, ((v0 + 1) << shift) - 1
        if uhi < qu[0] or ulo > qu[1] or vhi < qv[0] or vlo > qv[1]:
            return  # disjoint from the query box
        zlo = _interleave_py(u0, v0, depth) << (2 * shift)
        if (
            depth == max_depth
            or (qu[0] <= ulo and uhi <= qu[1] and qv[0] <= vlo and vhi <= qv[1])
        ):
            out.append((zlo, zlo + (1 << (2 * shift)) - 1))
            return
        for vb in (0, 1):  # v carries the higher interleaved bit
            for ub in (0, 1):
                rec(depth + 1, (u0 << 1) | ub, (v0 << 1) | vb)

    rec(0, 0, 0)
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def zorder_bbox_filter(
    df, lat_min: float, lat_max: float, lon_min: float, lon_max: float,
    bits: int = ZORDER_BITS, zkey_col: str = "zkey",
    lat_col: str = "lat", lon_col: str = "lon", max_depth: int = 6,
):
    """Bounding-box query over a z-keyed table: an OR-of-BETWEENs on the
    z-key (pushable to parquet row-group stats of a z-sorted table — the
    pruning ``with_zorder`` clustering exists for) ANDed with the exact
    lat/lon predicate (the cover is a superset, so results are exactly
    the naive filter's)."""
    ranges = zorder_ranges(lat_min, lat_max, lon_min, lon_max, bits, max_depth)
    z = F.col(zkey_col)
    cond = None
    for lo, hi in ranges:
        c = z.between(F.lit(lo), F.lit(hi))
        cond = c if cond is None else (cond | c)
    exact = (
        F.col(lat_col).between(F.lit(lat_min), F.lit(lat_max))
        & F.col(lon_col).between(F.lit(lon_min), F.lit(lon_max))
    )
    return df.filter(cond & exact) if cond is not None else df.filter(exact)


# --- geohash ------------------------------------------------------------------

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 8  # 40 bits = 20 lat + 20 lon


def _geohash_quant_exprs(lat_operand: str, lon_operand: str,
                         half_bits: int) -> tuple[str, str]:
    """The two clamp-quantize expression strings, shared by the inline
    (``geohash_expr``) and column-materialized (``with_geohash``)
    formulations so the two can never drift apart."""
    m = (1 << half_bits) - 1
    qlat = (
        f"greatest(0L, least({m}L, cast(floor(({lat_operand} + 90.0d) "
        f"/ 180.0d * {1 << half_bits}) AS BIGINT)))"
    )
    qlon = (
        f"greatest(0L, least({m}L, cast(floor(({lon_operand} + 180.0d) "
        f"/ 360.0d * {1 << half_bits}) AS BIGINT)))"
    )
    return qlat, qlon


def _geohash_char_concat(z_operand: str, precision: int) -> str:
    """base32 of the interleaved key: 5 bits per character, MSB first."""
    nbits = precision * 5
    chars = [
        f"substring('{GEOHASH_ALPHABET}', "
        f"cast(shiftright({z_operand}, {nbits - 5 - 5 * j}) & 31L AS INT)"
        " + 1, 1)"
        for j in range(precision)
    ]
    return "concat(" + ", ".join(chars) + ")"


def geohash_expr(lat_col: str, lon_col: str,
                 precision: int = GEOHASH_PRECISION) -> str:
    """Standard geohash of (lat, lon) at even ``precision`` as pure
    Catalyst integer arithmetic — no UDF, codegen'd, bit-reproducible in
    ANSI SQL.

    The classic binary-subdivision definition is equivalent to one
    quantization per axis (floor((x - lo)/span · 2^bits), the binary
    digits ARE the subdivision choices) followed by the lon-first bit
    interleave — property-fuzzed against a subdivision reference
    implementation and pinned to the published test vector
    (57.64911, 10.40744) → ``u4pruydq``. Sole caveat: within ~1
    double-ulp of a cell boundary ``(x + 90.0)`` absorbs the offset and
    the two formulations pick adjacent cells — both self-consistent;
    the fuzz test documents and excludes that measure-zero band. Reuses the z-order machinery:
    ``zorder_interleave_expr(lat, lon)`` places lat bits at even
    positions, lon at odd — exactly geohash's lon-leading MSB order.

    A geohash prefix IS a bbox: GROUP BY a prefix for spatial binning,
    range-predicate on it for pruning (same row-group-stats story as
    the z-key, plus a human-readable key)."""
    if precision % 2 != 0:
        raise ValueError("geohash_expr supports even precision only")
    half = precision * 5 // 2
    qlat, qlon = _geohash_quant_exprs(lat_col, lon_col, half)
    z = zorder_interleave_expr(qlat, qlon, half)
    return _geohash_char_concat(z, precision)


def with_geohash(df, lat_col: str = "lat", lon_col: str = "lon",
                 precision: int = GEOHASH_PRECISION, out: str = "geohash"):
    """Column-materialized geohash pipeline for data-sized frames:
    quantize each axis into a column, interleave the COLUMNS, then
    base32 the z column — each stage references the previous by name so
    the expression tree stays linear. ``geohash_expr`` inlines the whole
    chain (operands repeated per interleave term — fine for literals and
    oracles, quadratic blowup on wide plans)."""
    half = precision * 5 // 2
    qlat, qlon = _geohash_quant_exprs(lat_col, lon_col, half)
    d = df.withColumn("_gqlat", F.expr(qlat)).withColumn(
        "_gqlon", F.expr(qlon)
    )
    d = d.withColumn(
        "_gz", F.expr(zorder_interleave_expr("_gqlat", "_gqlon", half))
    )
    return d.withColumn(
        out, F.expr(_geohash_char_concat("_gz", precision))
    ).drop("_gqlat", "_gqlon", "_gz")
