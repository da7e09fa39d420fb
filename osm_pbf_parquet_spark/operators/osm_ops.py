"""The reference's library query entry points, Spark-first.

Parity targets:
- ``count_by_type``    ≡ ``osmpbf/examples/count.rs:15-23`` via
  ``par_map_reduce`` (A1) — partial agg per partition + final merge is
  exactly rayon's fold + tree-reduce, but distributed.
- ``filter_with_deps`` ≡ ``IndexedReader::read_ways_and_deps``
  (``osmpbf/src/indexed.rs:264-330``, F1+F2+F3): filter ways by predicate,
  then fetch the nodes they reference. The reference's BTreeSet membership
  scan is a broadcast left-semi join here; its zone-map blob pruning (F2)
  is Parquet row-group min/max pruning when the table is id-clustered
  (``write_osm_parquet(sort_by_id=True)``).
- ``latest_versions`` — the natural OSM-history query the ``visible``/
  ``version`` columns enable (SURVEY §2.2 windows row).

At 100 TB: count_by_type is a map-side partial agg (no wide shuffle);
filter_with_deps broadcasts the ref-id set when small (the in-memory
BTreeSet case) and falls back to a shuffle semi-join automatically when
AQE sees it's big; latest_versions shuffles once on (type, id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def count_by_type(osm: DataFrame) -> DataFrame:
    """Element counts per kind; map-side combine then 3-row final agg."""
    return osm.groupBy("type").agg(F.count("*").alias("n")).orderBy("type")


def observe_elements(osm: DataFrame, name: str = "osm_progress"):
    """A3 progress counter, Spark-native: attach an ``observe()`` to the
    plan so ANY downstream action (write, count, collect) reports element
    totals as named metrics — zero extra jobs, zero extra scans.

    The reference keeps a global ``ELEMENT_COUNTER`` atomic polled by a
    monitor task every 60s (``osm-pbf-parquet/src/util.rs:20``,
    ``pbf.rs:100-126``). Spark's equivalent of the atomic is an
    accumulator-backed observation; live polling is the Spark UI /
    listener bus, and the final value lands in ``Observation.get``.

    Returns ``(df, observation)``; read ``observation.get`` after running
    an action on ``df``.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = osm.observe(
        obs,
        F.count(F.lit(1)).alias("elements"),
        F.sum((F.col("type") == "node").cast("long")).alias("nodes"),
        F.sum((F.col("type") == "way").cast("long")).alias("ways"),
        F.sum((F.col("type") == "relation").cast("long")).alias("relations"),
    )
    return observed, obs


def filter_with_deps(
    osm: DataFrame,
    way_predicate: Column,
    broadcast_refs: bool = True,
) -> DataFrame:
    """Ways matching ``way_predicate`` + the nodes they reference.

    Returns the union (ways first, then dependent nodes), mirroring
    ``read_ways_and_deps``'s two-pass emit order (ways in pass 1,
    nodes in pass 2; ``indexed.rs:269-330``).
    """
    ways = osm.filter((F.col("type") == "way") & way_predicate)
    refs = ways.select(F.explode("nds.ref").alias("id")).distinct()
    if broadcast_refs:
        refs = F.broadcast(refs)
    nodes = osm.filter(F.col("type") == "node").join(refs, "id", "left_semi")
    return ways.unionByName(nodes)


def latest_versions(osm: DataFrame, only_visible: bool = True) -> DataFrame:
    """Keep the newest version per (type, id) — history compaction.

    One shuffle on (type, id); ties broken by timestamp then visible to be
    deterministic on malformed history.
    """
    w = Window.partitionBy("type", "id").orderBy(
        F.col("version").desc_nulls_last(),
        F.col("timestamp").desc_nulls_last(),
    )
    out = (
        osm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if only_visible:
        out = out.filter(F.coalesce(F.col("visible"), F.lit(True)))
    return out


def tag_histogram(osm: DataFrame, top_n: int = 100) -> DataFrame:
    """Most common tag keys — explode map keys, two-phase agg."""
    return (
        osm.select(F.explode(F.map_keys("tags")).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "key")
        .limit(top_n)
    )


def way_node_join(osm: DataFrame) -> DataFrame:
    """Materialize way geometries: explode nds, join node coords, re-collect
    ordered coordinate lists. The big-data path for what LocationsOnWays
    precomputes at encode time (D5).

    Shuffle profile: explode (narrow) → join on id (one shuffle; node side
    can be bucketed by id to avoid re-shuffle across queries) → groupBy way
    id with posexplode-preserved order (second shuffle).
    """
    ways = osm.filter(F.col("type") == "way").select(
        F.col("id").alias("way_id"), F.posexplode("nds").alias("pos", "nd")
    )
    nodes = osm.filter(F.col("type") == "node").select(
        F.col("id").alias("node_id"), "lat", "lon"
    )
    joined = ways.join(nodes, ways["nd.ref"] == nodes["node_id"], "left")
    return (
        joined.groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "lat", "lon"))
            ).alias("_pts")
        )
        .select(
            "way_id",
            F.transform("_pts", lambda p: p["lat"]).alias("lats"),
            F.transform("_pts", lambda p: p["lon"]).alias("lons"),
        )
    )


def resolve_relation_members(osm: DataFrame) -> DataFrame:
    """D6 downstream: explode relation members and resolve every
    (type, ref) against the element table — the membership join osmium's
    relation assembly starts from, and the broken-reference data-quality
    check (``resolved = false`` marks members whose target is absent
    from the extract, routine in regional extracts).

    Shuffle profile: member explode is narrow; the resolution join is
    keyed on (member_type, member_ref) — at planet scale both sides hash-
    partition on the composite key and the element side can be bucketed
    by (type, id) to make this exchange-free across queries.

    History extracts: BOTH sides are version-aware with LATEST-FIRST
    semantics (same ranking as ``latest_versions``): take the newest
    version per element, THEN check its visibility. A relation whose
    head version is a deletion emits nothing — even if an older visible
    version exists — and a member target deleted at its head version
    reports resolved=false. Older versions never fan out.
    """

    def _latest_then_visible(df: DataFrame, *keys: str) -> DataFrame:
        # Rank newest-first BEFORE the visibility filter so an element
        # deleted at its head version is absent (matches latest_versions).
        if "version" in df.columns:
            order = [F.desc_nulls_last("version")]
            if "timestamp" in df.columns:
                order.append(F.desc_nulls_last("timestamp"))
            w = Window.partitionBy(*keys).orderBy(*order)
            df = (
                df.withColumn("_vrn", F.row_number().over(w))
                .filter(F.col("_vrn") == 1)
                .drop("_vrn")
            )
        if "visible" in df.columns:
            df = df.filter(F.coalesce(F.col("visible"), F.lit(True)))
        return df

    rels = _latest_then_visible(osm.filter(F.col("type") == "relation"), "id")
    mem = (
        rels.select(
            F.col("id").alias("relation_id"),
            F.posexplode("members").alias("seq", "m"),
        )
        .select(
            "relation_id",
            F.col("seq").cast("int"),
            F.col("m.type").alias("member_type"),
            F.col("m.ref").alias("member_ref"),
            F.col("m.role").alias("role"),
        )
    )
    # dedupe targets: a history extract carries MULTIPLE versions per
    # (type, id), which would fan out every referencing member row; a
    # target is live only if its LATEST version is visible (visible
    # defaults true when the history feature isn't present)
    targets = _latest_then_visible(osm, "type", "id").select(
        F.col("type").alias("member_type"),
        F.col("id").alias("member_ref"),
    ).dropDuplicates(["member_type", "member_ref"]).withColumn(
        "resolved", F.lit(True)
    )
    return (
        mem.join(targets, ["member_type", "member_ref"], "left")
        .select(
            "relation_id", "seq", "member_type", "member_ref", "role",
            F.coalesce("resolved", F.lit(False)).alias("resolved"),
        )
    )


# --- incremental replication: change application (r10) -----------------------------


def compact_changes(changes: DataFrame) -> DataFrame:
    """Newest row per (type, id) within a change frame — the changelog
    compaction half of replication ingestion. A replication diff (the
    .osc the osmosis cursor in the PBF header points at,
    ``osmpbf/src/block.rs:59-85``; decoded by ``replication_cursor``)
    can carry several operations on one element; only the newest matters
    for snapshot maintenance.

    If an ``action`` column is present (create/modify/delete — the .osc
    operation kinds), it is folded into ``visible`` first (delete →
    false) and dropped, so the output speaks the element schema's own
    history dialect.

    One aggregation — ``max_by`` over the (version, timestamp) order
    key — which is map-side combinable in batch AND runs stateful under
    Structured Streaming (complete mode) with the SAME definition:
    streaming and batch ingestion share one compaction. OSM versions
    are unique per element within a diff, so the order key is total;
    ties on identical (version, timestamp) would be nondeterministic
    and cannot occur in well-formed replication input. Shuffle profile:
    one keyed exchange of the DIFF only — the snapshot is never
    touched here.
    """
    if "action" in changes.columns:
        changes = changes.withColumn(
            "visible",
            F.col("action") != F.lit("delete"),
        ).drop("action")
    cols = changes.columns
    return (
        changes.groupBy("type", "id")
        .agg(
            F.max_by(
                F.struct(*cols), F.struct("version", "timestamp")
            ).alias("_r")
        )
        .select("_r.*")
    )


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    assume_newer: bool = False,
) -> DataFrame:
    """Apply a replication change frame to a SNAPSHOT (one row per
    (type, id), the layout the transcoder writes) — the .osc merge that
    keeps the parquet current between planet dumps (the reference's
    lifecycle gap: it re-transcodes full dumps; the osmosis replication
    header fields it carries, ``block.rs:59-85``, exist precisely for
    this incremental path).

    Semantics: result = per (type, id), the newer of (snapshot row,
    newest change row), with losers-by-version dropped (a STALE change —
    version older than the snapshot's — never clobbers it) and elements
    whose winning row is a delete (visible=false) removed. On equal
    (version, timestamp) the change wins, so re-applying an
    already-applied diff is idempotent.

    100 TB plan (the reason this is not one window over
    snapshot ∪ changes): the full-width snapshot crosses NO exchange.

    - winners: the compacted diff left-joins a (type, id, version,
      timestamp) PROJECTION of the snapshot for the staleness test —
      the only corpus-lineage exchange carries 4 columns, never the
      tags/geometry payload (and ``assume_newer=True`` deletes even
      that: replication streams are version-monotone, so trust the
      cursor and skip the meta join entirely).
    - survivors: snapshot anti-joins the winning keys — diff-sized, so
      AQE broadcasts it at runtime and the snapshot flows scan-speed.
      Unhinted on purpose (same standard as margin_from_candidates):
      a full re-sync diff is NOT broadcast-sized, and AQE decides from
      observed sizes.
    """
    diff = compact_changes(changes)
    if assume_newer:
        winners = diff
    else:
        meta = snapshot.select(
            "type", "id",
            F.col("version").alias("_sv"),
            F.col("timestamp").alias("_st"),
        )
        d = diff.join(meta, ["type", "id"], "left")
        epoch = F.lit("1677-01-01 00:00:00").cast("timestamp_ntz")
        newer = F.col("_sv").isNull() | (
            F.struct(
                F.coalesce(F.col("version"), F.lit(-1)).alias("v"),
                F.coalesce(F.col("timestamp"), epoch).alias("t"),
            )
            >= F.struct(
                F.coalesce(F.col("_sv"), F.lit(-1)).alias("v"),
                F.coalesce(F.col("_st"), epoch).alias("t"),
            )
        )
        winners = d.filter(newer).drop("_sv", "_st")
    survivors = snapshot.join(
        winners.select("type", "id"), ["type", "id"], "left_anti"
    )
    live = winners.filter(F.coalesce(F.col("visible"), F.lit(True)))
    return survivors.unionByName(live.select(*snapshot.columns))
