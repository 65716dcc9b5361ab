"""Property-graph build: node/edge DataFrames + SQL views (SURVEY
§2.1 S6-S7, §2.3 J2, §2.4 A1-A2).

The reference materializes 6 node tables and 5 edge tables in Kuzu
via Cypher ``MERGE`` (src/build_graph.py:209-378). Spark-first, each
``MERGE (n {key}) SET props`` is a deterministic batch rebuild —
sort + dropDuplicates on the key — and each
``MATCH (a {k1}), (b {k2}) MERGE (a)-[:R]->(b)`` is a distinct
projection of candidate pairs semi-joined against both endpoint
tables (unmatched FK rows drop out exactly like an unmatched MATCH).

At scale: node tables are written bucketed by key; edges bucketed by
src so pattern joins co-locate. Multi-hop queries then run as
chained equi-joins over the views (see plans/golden.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import normalize


class FrontierExplosionError(RuntimeError):
    """Raised by :func:`variable_length_paths` when the next hop's
    trail frontier would exceed ``max_frontier_rows``.

    Variable-length trail expansion grows as n·d^h; on a power-law
    (hub-heavy) degree distribution that is combinatorial at h≥3 in
    ANY engine — Cypher's ``*1..4`` patterns assume bounded degree.
    The guard computes the exact row count of the NEXT expansion join
    from the current frontier and the out-degree table (a cheap
    aggregate, orders of magnitude cheaper than the expansion itself)
    and fails fast instead of launching an effectively unbounded job.
    """


def _merge_nodes(df: DataFrame, key: str, order: list[str]) -> DataFrame:
    """MERGE-equivalent: last-write-wins per key in ARRIVAL order.

    Kuzu applies ``MERGE ... SET`` row by row, so the surviving
    properties come from the last row the pipeline produced for that
    key (record order, then array position). A window row_number
    descending over those order columns reproduces that exactly and
    deterministically, independent of partitioning.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(key).orderBy(*[F.desc(c) for c in order])
    keep = [c for c in df.columns if c != key and c not in order and not c.startswith("_")]
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key, *keep)
    )


@dataclass
class FhirGraph:
    """The 6 node + 5 edge tables, ready to register as views."""

    patient: DataFrame
    address: DataFrame
    practitioner: DataFrame
    substance: DataFrame
    allergy: DataFrame
    immunization: DataFrame
    lives_in: DataFrame
    treats: DataFrame
    experiences: DataFrame
    causes: DataFrame
    has_immunization: DataFrame

    def register(self, spark: SparkSession) -> None:
        for name, df in vars(self).items():
            df.createOrReplaceTempView(name)

    def tables(self) -> dict[str, DataFrame]:
        return dict(vars(self))


def build_graph(extracted: DataFrame) -> FhirGraph:
    """extracted_fhir records → property graph tables.

    Mirrors build_graph.py:381-402 (five preps + 11 ingests) as one
    lazy DataFrame program; nothing materializes until the caller
    writes or queries.
    """
    addr = normalize.prep_address(extracted)
    pat = normalize.prep_patient(extracted)
    prac = normalize.prep_practitioner(extracted)
    subs = normalize.prep_substance(extracted)
    imm = normalize.prep_immunization(extracted)

    # -- node tables (MERGE ≡ keyed dedupe, arrival order = record
    # order then array position) --
    address = _merge_nodes(
        addr.filter(F.col("id").isNotNull()), "id", ["record_id"]
    )
    patient = pat  # record_id is unique by construction (S5)
    practitioner = _merge_nodes(
        prac.filter(F.col("id").isNotNull()), "id", ["record_id"]
    )
    substance = subs.filter(F.col("name").isNotNull()).select("name").distinct()
    allergy = _merge_nodes(
        subs.filter(F.col("id").isNotNull()).select(
            "id", "category", "manifestation", "record_id", "_pos"
        ),
        "id",
        ["record_id", "_pos"],
    )
    immunization = _merge_nodes(
        imm.select(
            "id",
            "status",
            F.col("occurrenceDateTime").cast("timestamp").alias("occurrenceDateTime"),
            "traits",
            "record_id",
            "_pos",
        ),
        "id",
        ["record_id", "_pos"],
    )

    # -- edge tables (MATCH+MERGE ≡ distinct pairs, FK-validated) --
    pat_keys = patient.select(F.col("patient_id").alias("_pk"))

    def fk_patient(edges: DataFrame, col: str) -> DataFrame:
        return edges.join(
            pat_keys, edges[col] == pat_keys["_pk"], "left_semi"
        )

    lives_in = fk_patient(
        addr.filter(F.col("id").isNotNull() & F.col("record_id").isNotNull())
        .select(F.col("record_id").alias("src"), F.col("id").alias("dst"))
        .distinct(),
        "src",
    ).join(address.select(F.col("id").alias("dst")), "dst", "left_semi")

    treats = fk_patient(
        prac.select(F.col("id").alias("src"), F.col("record_id").alias("dst")).distinct(),
        "dst",
    ).join(practitioner.select(F.col("id").alias("src")), "src", "left_semi")

    experiences = fk_patient(
        subs.select(F.col("record_id").alias("src"), F.col("id").alias("dst")).distinct(),
        "src",
    ).join(allergy.select(F.col("id").alias("dst")), "dst", "left_semi")

    causes = (
        subs.filter(F.col("name").isNotNull())
        .select(F.col("name").alias("src"), F.col("id").alias("dst"))
        .distinct()
        .join(allergy.select(F.col("id").alias("dst")), "dst", "left_semi")
    )

    has_immunization = fk_patient(
        imm.select(F.col("record_id").alias("src"), F.col("id").alias("dst")).distinct(),
        "src",
    ).join(immunization.select(F.col("id").alias("dst")), "dst", "left_semi")

    return FhirGraph(
        patient=patient,
        address=address,
        practitioner=practitioner,
        substance=substance,
        allergy=allergy,
        immunization=immunization,
        lives_in=lives_in,
        treats=treats,
        experiences=experiences,
        causes=causes,
        has_immunization=has_immunization,
    )


#: The graph catalog, declared once: each of the 5 edge tables with
#: its (from, to) node tables, and each of the 6 node tables with its
#: key. ``write_graph`` buckets by it, ``read_graph`` loads by it and
#: the prompt schema (``functions.schema_xml``) renders it.
EDGE_ENDPOINTS = {
    "lives_in": ("patient", "address"),
    "treats": ("practitioner", "patient"),
    "experiences": ("patient", "allergy"),
    "causes": ("substance", "allergy"),
    "has_immunization": ("patient", "immunization"),
}
NODE_KEYS = {
    "patient": "patient_id",
    "address": "id",
    "practitioner": "id",
    "substance": "name",
    "allergy": "id",
    "immunization": "id",
}


def write_graph(
    graph: FhirGraph, base_path: str, n_buckets: int = 16,
    database: str = "fhir_graph",
) -> None:
    """Persist the graph as bucketed Spark tables (S6/S7: Kuzu DDL +
    bulk LOAD become saveAsTable).

    Node tables bucket by primary key, edge tables by ``src`` — so
    every pattern join (edge.src = node.key) is co-located and runs
    shuffle-free after load. At 100 TB this is the difference between
    one sort-merge per hop and zero.

    Tables live in their own database: qualified names can't be
    shadowed by same-named temp views (``FhirGraph.register``).
    """
    spark = graph.patient.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name, df in graph.tables().items():
        key = "src" if name in EDGE_ENDPOINTS else NODE_KEYS[name]
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", f"{base_path}/{name}")
            .saveAsTable(f"{database}.{name}")
        )


def read_graph(
    spark: SparkSession, base_path: str, database: str = "fhir_graph"
) -> dict[str, DataFrame]:
    """Load the persisted graph tables (bucketing metadata comes from
    the catalog, so joins on the bucket keys skip the shuffle)."""
    return {
        name: spark.table(f"{database}.{name}")
        for name in (*NODE_KEYS, *EDGE_ENDPOINTS)
    }


def variable_length_paths(
    edges: DataFrame,
    src: str,
    dst: str,
    min_hops: int,
    max_hops: int,
    *,
    undirected: bool = False,
    max_frontier_rows: int | None = None,
) -> DataFrame:
    """Iterative self-join for Cypher ``-[r*min..max]-`` patterns
    (README.md:137). Returns (start, end, hops) over directed edges;
    ``undirected=True`` renders Cypher's actual UNDIRECTED semantics:
    the edge list is symmetrized and the trail key is the UNORDERED
    endpoint pair, so traversing a—b and then b—a reuses the same
    relationship and is pruned (directed mode treats a→b and b→a as
    two distinct relationships and allows the 2-hop round trip —
    both behaviors are tested against each other).

    TRAIL semantics, matching Cypher/Kuzu: a path may not reuse a
    relationship. Plain walk-reachability BFS would diverge on any
    cyclic graph — with mutual edges a↔b, the 3-walk a→b→a→b reuses
    edge a→b, so Cypher matches nothing at ``*3..3`` while a walk
    expansion would emit (a, b, 3). Each frontier row therefore
    carries its visited-edge set; expansion filters reused edges, and
    rows with the same (start, end, edge-SET) are deduped — the set
    alone determines which expansions remain legal, so the dedup is
    lossless while bounding growth to distinct edge subsets. Edges
    have no identity column here, so parallel duplicate edge rows
    collapse to one relationship (set semantics — stated, since with
    ids Cypher would treat them as distinct).

    The per-hop state is O(frontier · hops) edge keys — fine for the
    small ``max_hops`` Cypher patterns use (the reference's graph
    queries bound at 2-3); unbounded-hop reachability wants the
    components/BFS tier instead, which needs no trail constraint.

    ``max_frontier_rows`` is the hub-graph guard: when set, the
    operator eagerly checks — BEFORE launching each expansion join —
    the exact number of rows that join would produce (Σ over frontier
    rows of out-degree(end), an upper bound on the surviving trails
    and the exact cost of the join itself) and raises
    :class:`FrontierExplosionError` if it exceeds the cap. The check
    is one small aggregate per hop against a persisted frontier, so a
    ``MATCH (a)-[r*1..4]-(b)`` aimed at a power-law graph fails in
    seconds with a clear message instead of running an effectively
    unbounded job. ``None`` (default) preserves the fully lazy plan.
    Remedies when it trips: lower ``max_hops``, pre-filter hub
    vertices (degree cap on the edge list), or — for reachability
    rather than path enumeration — the components/BFS tier.

    ``min_hops=0`` yields the Cypher ``*0..`` zero-length paths — one
    (v, v, 0) row per endpoint vertex.
    """
    if not 0 <= min_hops <= max_hops:
        raise ValueError(
            f"need 0 <= min_hops <= max_hops, got "
            f"min_hops={min_hops}, max_hops={max_hops}"
        )
    # graph node keys are heterogeneous (string slugs, int64 patient
    # ids) — normalize to string so hop joins never hit a lossy cast
    e = edges.select(
        F.col(src).cast("string").alias("start"),
        F.col(dst).cast("string").alias("end"),
    )
    if undirected:
        # symmetrize: an undirected relationship is traversable both
        # ways; the unordered edge key below makes the two directions
        # ONE relationship for the trail constraint
        e = e.unionByName(
            e.select(
                F.col("end").alias("start"), F.col("start").alias("end")
            )
        )
    out = None
    if min_hops == 0:
        verts = (
            e.select(F.col("start").alias("v"))
            .unionByName(e.select(F.col("end").alias("v")))
            .distinct()
        )
        out = verts.select(
            F.col("v").alias("start"),
            F.col("v").alias("end"),
            F.lit(0).alias("hops"),
        )
    # length-prefixed edge key: plain 'start->end' concat collides
    # when a vertex id itself contains the separator (ids here are
    # arbitrary string slugs) — ('a->b', 'c') and ('a', 'b->c') must
    # not suppress each other's trails. Length prefixes make the
    # encoding injective for any id content.
    if undirected:
        # unordered endpoint pair: a—b and b—a share one key, so the
        # trail constraint forbids reusing the relationship in either
        # direction (least/greatest is binary-lexicographic in both
        # Spark and DuckDB, so the oracle prunes identically)
        _lo, _hi = F.least("start", "end"), F.greatest("start", "end")
    else:
        _lo, _hi = F.col("start"), F.col("end")
    e1 = e.distinct().withColumn(
        "_ek",
        F.concat(
            F.length(_lo).cast("string"), F.lit(":"), _lo,
            F.lit(">"), F.length(_hi).cast("string"), F.lit(":"),
            _hi,
        ),
    )
    guarded = max_frontier_rows is not None
    handles: list[DataFrame] = []
    deg = None
    if guarded:
        from .. import cache as _cache
    # In the guarded path every hop eagerly persists + aggregates, so
    # ANY exception mid-loop (the explosion error, but also a failed
    # bound aggregate or expansion job) must release every persisted
    # handle — otherwise each aborted call leaks frontier-sized cache
    # blocks for the life of the session. Success keeps the handles
    # alive via cache.own() below so the caller's actions still hit
    # the cached frames.
    try:
        if guarded:
            e1 = e1.persist()
            handles.append(e1)
            n_edges = e1.count()  # hop-1 frontier = one trail per edge
            if n_edges > max_frontier_rows:
                raise FrontierExplosionError(
                    f"hop-1 frontier is {n_edges} rows > "
                    f"max_frontier_rows={max_frontier_rows}: the edge "
                    f"list alone exceeds the cap. Raise the cap or "
                    f"pre-filter the edge list."
                )
            # persisted: one row per distinct src vertex, re-read by
            # every hop's bound check (unpersisted it would
            # re-aggregate the edge list once per hop)
            deg = e1.groupBy(F.col("start").alias("_v")).agg(
                F.count(F.lit(1)).alias("_deg")
            ).persist()
            handles.append(deg)
        frontier = e1.select("start", "end", F.array("_ek").alias("_path"))
        if min_hops <= 1 and max_hops >= 1:
            hop1 = frontier.select(
                "start", "end", F.lit(1).alias("hops")
            ).dropDuplicates(["start", "end"])
            out = hop1 if out is None else out.unionByName(hop1)
        for hop in range(2, max_hops + 1):
            if guarded:
                # exact row count of the expansion join below (before
                # the reuse filter) — Σ outdeg(end) over the current
                # frontier. One shuffle of (end, count) pairs + a
                # scalar agg: cheap relative to materializing the
                # expansion, and an upper bound on the surviving trail
                # rows.
                bound = (
                    frontier.groupBy("end")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .join(deg, F.col("end") == F.col("_v"))
                    .agg(F.sum(F.col("_n") * F.col("_deg")).alias("_b"))
                    .first()["_b"]
                ) or 0
                if bound > max_frontier_rows:
                    raise FrontierExplosionError(
                        f"hop-{hop} expansion would produce {bound} "
                        f"trail rows > max_frontier_rows="
                        f"{max_frontier_rows} (power-law/hub-heavy "
                        f"degree distribution?). Lower max_hops, "
                        f"pre-filter hub vertices with a degree cap, "
                        f"or use the connected-components/BFS tier "
                        f"for plain reachability."
                    )
            nxt = (
                frontier.alias("f")
                .join(e1.alias("e"), F.col("f.end") == F.col("e.start"))
                .filter(
                    ~F.array_contains(F.col("f._path"), F.col("e._ek"))
                )
                .select(
                    F.col("f.start").alias("start"),
                    F.col("e.end").alias("end"),
                    F.concat(
                        F.col("f._path"), F.array(F.col("e._ek"))
                    ).alias("_path"),
                )
                .withColumn("_pkey", F.array_sort("_path"))
                .dropDuplicates(["start", "end", "_pkey"])
                .drop("_pkey")
            )
            if guarded and hop < max_hops:
                # the next bound check aggregates this frontier;
                # persist so the trail expansion computes once, not
                # once per remaining hop's guard
                nxt = nxt.persist()
                handles.append(nxt)
            frontier = nxt
            if hop >= min_hops:
                hops_out = nxt.select(
                    "start", "end", F.lit(hop).alias("hops")
                ).dropDuplicates(["start", "end"])
                out = hops_out if out is None else out.unionByName(hops_out)
    except BaseException:
        for h in handles:
            _cache.release_frame(h)
        raise
    if out is None:  # min_hops == max_hops == 0 handled above; this
        raise ValueError("empty hop range")  # is unreachable
    out = out.dropDuplicates(["start", "end", "hops"])
    if guarded:
        out = _cache.own(out, *handles)
    return out
