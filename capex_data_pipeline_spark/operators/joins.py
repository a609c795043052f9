"""Join operators J1-J4 (SURVEY.md §2.4).

J1 (zone/region attach) is the reference's hand-rolled dict-map join
(process_capex.py:225-289) re-expressed as a broadcast equi-join plus a
broadcast *regex* fallback join — both build sides are the 651-row
office dimension, so at 100 TB the fact table never shuffles here.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capex_data_pipeline_spark.operators.rules import sql_str


@dataclass(frozen=True)
class ZoneMaps:
    """The office dimension, digested for the J1 join: a broadcastable
    branch-code frame (a ``VALUES`` relation, executed as a
    ``LocalTableScan``) plus the collected region-code dict. Build it
    ONCE per office frame (``build_zone_maps``) and reuse — the pipeline
    attaches zones twice (main plan + fail-open re-join), and each build
    runs a small driver-side collect job."""

    by_branch: DataFrame
    rc_rows: tuple  # (code, zone, region) in dict-insertion order


def build_zone_maps(office: DataFrame) -> ZoneMaps:
    """ONE collect of the (small, by construction) office dimension; both
    reference dicts (process_capex.py:234-239, 259-264) are then literal
    Python dicts — last-occurrence values, first-occurrence insertion
    order — and the branch map re-enters the plan as a ``VALUES``
    LocalRelation of string literals, so the join's build side needs no
    shuffle, no aggregation and no Python worker: the broadcast reads a
    ``LocalTableScan`` on the driver. (A frame made from a Python list
    would not do: classic PySpark parallelizes the list into a Python
    RDD, scanned by Python workers in every job that reads it.)"""
    rows = office.select("office", "zone", "region", "regioncode").collect()

    branch: dict[str, tuple] = {}  # last occurrence wins (dict assignment)
    for r in rows:
        if r["office"] is not None:
            branch[r["office"]] = (r["zone"], r["region"])

    rc_pos: dict[str, int] = {}  # first occurrence fixes the position
    rc_val: dict[str, tuple] = {}  # last occurrence fixes the value
    for i, r in enumerate(rows):
        if r["regioncode"] is None:
            continue
        code = str(r["regioncode"])
        rc_pos.setdefault(code, i)
        rc_val[code] = (r["zone"], r["region"])

    def lit(v) -> str:
        return "NULL" if v is None else sql_str(str(v))

    # an empty map is one filtered-out null row: VALUES needs a row, and
    # the CASTs keep every column a string
    rows_sql = [
        f"({lit(k)}, {lit(z)}, {lit(rg)})" for k, (z, rg) in branch.items()
    ] or ["(NULL, NULL, NULL)"]
    by_branch = office.sparkSession.sql(
        "SELECT CAST(_dim_office AS STRING) AS _dim_office,"
        " CAST(_zone_b AS STRING) AS _zone_b,"
        " CAST(_region_b AS STRING) AS _region_b"
        f" FROM VALUES {', '.join(rows_sql)} AS t(_dim_office, _zone_b, _region_b)"
        + ("" if branch else " WHERE false")
    )
    return ZoneMaps(
        by_branch=by_branch,
        rc_rows=tuple(
            (code, rc_val[code][0], rc_val[code][1])
            for code in sorted(rc_pos, key=rc_pos.get)
        ),
    )


def add_zone_region(
    df: DataFrame, office: DataFrame, maps: ZoneMaps | None = None
) -> DataFrame:
    """J1 + J1b — Zone/Region via BranchCode equi-join; unmatched rows fall
    back to scanning UserRemarks for a region code as a whole word (first
    code in office-file order wins, process_capex.py:268-279); anything
    still unmatched becomes 'Unknown' (process_capex.py:284-285).

    The branch map is a broadcast equi-join (fact side keeps its
    partitioning — no shuffle). The remarks fallback compiles the ~21
    distinct region codes into ONE alternation regex: extract every code
    occurring in the remark, map each to its dict position, take the min
    — identical winner to the reference's dict-order iteration, but one
    regex scan per row instead of one per code, and a compact plan
    (the old per-code WHEN chain was ~40 nested CASE nodes that every
    downstream analyzer pass re-walked). Row-multiplicity-safe: no
    extra join/window (a join+rank formulation would need a unique
    per-row id, which the fail-open union deliberately breaks).
    """
    if maps is None:
        maps = build_zone_maps(office)

    out = df.join(
        F.broadcast(maps.by_branch),
        df["BranchCode"] == maps.by_branch["_dim_office"],
        "left",
    ).drop("_dim_office")

    # dedupe case-insensitively, keeping the smaller dict position (the
    # match itself is case-insensitive, so case-variant codes compete for
    # the same occurrences and the earlier one always wins)
    seen: dict[str, tuple[int, str, str]] = {}
    for pos, (code, zone, region) in enumerate(maps.rc_rows):
        seen.setdefault(code.upper(), (pos, zone, region))

    if not seen:
        fb_zone, fb_region = "CAST(NULL AS STRING)", "CAST(NULL AS STRING)"
    else:
        entries = sorted(seen.values())
        # \Q..\E quoting mirrors re.escape + word boundaries (:273).
        # The alternation sits inside a zero-width lookahead so the scan
        # observes ALL occurrences, including overlapping ones: a plain
        # scan consumes its match, so 'NEW DELHI' at pos 0 would hide
        # 'DELHI' at pos 4 and a later-dict-order code could win against
        # the reference's per-code re.search (which sees both). At the
        # same start position the alternation tries dict order first, so
        # any shadowed code has a strictly larger dict position and
        # cannot change the min.
        alt = "|".join(
            rf"\Q{code}\E"
            for code in sorted(seen, key=lambda c: seen[c][0])
        )
        pattern = sql_str(rf"(?i)(?=\b({alt})\b)")
        pos_map = (
            "map("
            + ", ".join(f"{sql_str(c)}, {seen[c][0]}" for c in seen)
            + ")"
        )
        zone_map = (
            "map(" + ", ".join(f"{p}, {sql_str(z)}" for p, z, _ in entries) + ")"
        )
        region_map = (
            "map(" + ", ".join(f"{p}, {sql_str(r)}" for p, _, r in entries) + ")"
        )
        remarks = "COALESCE(CAST(`UserRemarks` AS STRING), 'nan')"
        fb_pos = (
            f"array_min(transform(regexp_extract_all({remarks}, {pattern}, 1),"
            f" x -> {pos_map}[upper(x)]))"
        )
        fb_zone = f"{zone_map}[{fb_pos}]"
        fb_region = f"{region_map}[{fb_pos}]"

    return out.selectExpr(
        *[f"`{c}`" for c in out.columns if c not in ("_zone_b", "_region_b")],
        f"COALESCE(_zone_b, {fb_zone}, 'Unknown') AS Zone",
        f"COALESCE(_region_b, {fb_region}, 'Unknown') AS Region",
    )


def semi_join_on_keys(df: DataFrame, keys: DataFrame, on: str) -> DataFrame:
    """J2/F15 — keep rows whose key appears in the (small) key set."""
    return df.join(F.broadcast(keys.select(on).distinct()), on, "left_semi")


def anti_join_on_keys(df: DataFrame, keys: DataFrame, on: str) -> DataFrame:
    """J3/J4 building block — rows whose key does NOT appear in the set."""
    return df.join(F.broadcast(keys.select(on).distinct()), on, "left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    num_salts: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join with key salting — the manual fix for pathological key
    skew when neither side fits a broadcast and AQE's skew-join split
    (which only kicks in for sort-merge joins with statistics) isn't
    enough.

    ``left`` is the LARGE, skewed side: each row gets a uniform salt in
    [0, num_salts). ``right`` is replicated ``num_salts`` times (one
    copy per salt), so the join key becomes (key, salt) and a hot key's
    rows spread over ``num_salts`` reducers instead of one. Join
    semantics are unchanged for inner/left joins — every left row still
    meets every matching right row exactly once. Cost model: right side
    shuffles num_salts× its size; worth it when the hot key's reducer
    is the straggler. The salt uses a seeded rand: WHICH salt a row
    draws is irrelevant to correctness (any value pairs with the
    replicated right), so re-draws under task retry are harmless.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "salted_join supports inner/left joins; for right/full, salt "
            "the other side"
        )
    on = [on] if isinstance(on, str) else list(on)
    # The working column must not shadow (and then silently drop) a real
    # user column on either input.
    salt = "_salt"
    taken = set(left.columns) | set(right.columns)
    while salt in taken:
        salt = "_" + salt
    salted_left = left.withColumn(
        salt, F.floor(F.rand(seed) * num_salts).cast("int")
    )
    replicated_right = right.withColumn(
        salt, F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<int>"))
    )
    return salted_left.join(replicated_right, on + [salt], how).drop(salt)
