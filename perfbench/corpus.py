"""Seeded inputs and independent oracles (DuckDB, driver-side Python).

Transcripts come from the repo's engine-portable recipe SQL
(``synthsql.transcripts_sql``, DuckDB dialect) over a ``doc_id`` range
that the seed selects, so the program only ever sees parquet files.
The oracles never call the program: per-predicate triple counts,
status counts and the Turtle conversation universe come from
``sources.kgoracle`` SQL run in DuckDB; linking and canonicalization are
checked against a DuckDB join and a Python union-find.
"""

from __future__ import annotations

import random
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from gg2rdf_spark.sources.kgoracle import (
    kg_status_counts_sql,
    kg_triples_by_pred_sql,
)
from gg2rdf_spark.sources.synthsql import GENUS, SPECIES, recipe_cte, transcripts_sql

# synthsql builds conv_id as 'c' || lpad(doc_id, 7, '0'): longer ids are
# truncated and distinct documents collide, so every doc_id stays < 10^7.
DOC_ID_LIMIT = 10_000_000
SLOT = 500  # doc ids reserved per slot; distinct slots are disjoint
N_SLOTS = DOC_ID_LIMIT // SLOT


class SeedError(ValueError):
    pass


def doc_range(seed: int, offset: int, n: int) -> tuple[int, int]:
    """[lo, hi) doc ids for this seed's slot; rejects a range that would
    leave its slot or the 7-digit conv_id space.  Any integer seed maps
    onto one of ``N_SLOTS`` slots (seeds ``N_SLOTS`` apart share one), so
    every seed gives inputs."""
    if offset < 0 or n < 0 or offset + n > SLOT:
        raise SeedError(f"{offset}+{n} doc ids overflow the {SLOT}-id slot")
    lo = seed % N_SLOTS * SLOT + offset
    if lo + n > DOC_ID_LIMIT:
        raise SeedError(f"seed {seed}: doc ids [{lo}, {lo + n}) would pass "
                        f"{DOC_ID_LIMIT}")
    return lo, lo + n


def conv_id(doc_id: int) -> str:
    return f"c{doc_id:07d}"


def _duck(ranges: list[tuple[int, int]]):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("CREATE TABLE documents (doc_id BIGINT)")
    for lo, hi in ranges:
        con.execute(f"INSERT INTO documents SELECT range FROM range({lo}, {hi})")
    return con


def write_transcripts(path: str, lo: int, hi: int) -> None:
    """One parquet file of whole conversations for doc ids [lo, hi)."""
    con = _duck([(lo, hi)])
    try:
        con.execute(
            "COPY (SELECT conv_id, turn_idx, role, text, tool, "
            "ts::TIMESTAMPTZ AS ts FROM ("
            + transcripts_sql("documents", dialect="duckdb")
            + f") ORDER BY conv_id, turn_idx) TO '{path}' (FORMAT parquet)")
    finally:
        con.close()


def _materialized(sql: str) -> str:
    # The emission CTEs each re-inline the derived recipe CTE ``d3``;
    # DuckDB then plans the whole tree once per emission (~15 s).
    # Materializing d3 plans it once; the rows are identical.
    return sql.replace("\nd3 AS (", "\nd3 AS MATERIALIZED (", 1)


def write_history(path: str, lo: int, hi: int) -> None:
    """Triples of doc ids [lo, hi) as the oracle derives them, in the
    pipeline's triples schema (ordering columns zeroed): the state an
    ingest table holds from earlier deliveries."""
    sql = kg_triples_by_pred_sql("documents", per_conv=True)
    tail = "SELECT conv_id, pred, count(*) AS n FROM u GROUP BY conv_id, pred"
    if sql.count(tail) != 1:
        raise RuntimeError("kgoracle SQL changed shape; update write_history")
    rows = sql.replace(
        tail, "SELECT conv_id, 0::INTEGER AS block, 0::BIGINT AS subj_ord, "
              "subj, pred, obj, 0::BIGINT AS obj_ord FROM u")
    con = _duck([(lo, hi)])
    try:
        con.execute(f"COPY ({_materialized(rows)}) TO '{path}' (FORMAT parquet)")
    finally:
        con.close()


class KGOracle:
    """kgoracle answers for a set of doc-id ranges, computed once."""

    def __init__(self, ranges: list[tuple[int, int]]):
        con = _duck(ranges)
        try:
            self.per_conv = con.execute(_materialized(
                kg_triples_by_pred_sql("documents", per_conv=True))).fetchall()
            self.status = con.execute(_materialized(
                kg_status_counts_sql("documents", per_conv=True))).fetchall()
        finally:
            con.close()

    def pred_counts(self, drop: set[str] = frozenset()) -> dict[str, int]:
        out: Counter = Counter()
        for cid, pred, n in self.per_conv:
            if cid not in drop:
                out[pred] += n
        return dict(out)

    def conv_counts(self, drop: set[str] = frozenset()) -> dict[str, int]:
        out: Counter = Counter()
        for cid, _, n in self.per_conv:
            if cid not in drop:
                out[cid] += n
        return dict(out)

    def status_counts(self) -> dict[int, int]:
        return dict(Counter(s for _, s in self.status))

    def ttl_convs(self) -> int:
        return len({cid for cid, _, _ in self.per_conv})


# ---- entity dictionary for linking / canonicalization ----------------------

_NAME_BASE = "http://taxon-name.plazi.org/id/"


def entity_dictionary(path: str, seed: int, n_entities: int) -> list[tuple]:
    """Seeded dictionary in ``linking.entity_dictionary``'s schema,
    written to parquet; returns its rows.

    * every corpus pool name (genus x species) has 1-3 entities, so the
      mention stream links onto hot, multiply-defined keys;
    * each entity carries its abbreviated-genus alias ('c. montanus'),
      shared by every entity with that initial and epithet: high-degree
      hubs in the alias graph;
    * entities that share a hub are threaded into synonym chains of 1-4
      links (an alias naming the next entity's id), which lengthen the
      paths inside a component without merging components.
    """
    rng = random.Random(seed * 7919 + 17)
    rows: list[tuple] = []
    for g in GENUS:
        for s in SPECIES:
            for j in range(rng.randint(1, 3)):
                eid = f"{_NAME_BASE}Animalia/{g}_{s}" + (f"/v{j}" if j else "")
                rows.append([eid, f"{g.lower()} {s}", "Animalia",
                             [f"{g[0].lower()}. {s}"]])
    epithets = [f"{rng.choice('bcdfghklmnprstv')}{rng.choice('aeiou')}"
                f"{rng.choice('lmnrst')}{rng.choice(['us', 'a', 'um', 'is'])}"
                for _ in range(60)]
    while len(rows) < n_entities:
        i = len(rows)
        genus = f"{rng.choice('ABCDEFGHKLMNPRST')}gen{rng.randrange(5000)}"
        # Zipf-like epithet choice: a few epithets head very large hubs
        ep = epithets[min(int(rng.paretovariate(1.2)) - 1, len(epithets) - 1)]
        rows.append([f"{_NAME_BASE}Filler/{i}", f"{genus.lower()} {ep}",
                     rng.choice(["Animalia", "Plantae"]),
                     [f"{genus[0].lower()}. {ep}"]])
    hubs: dict[str, list[int]] = {}
    for i, r in enumerate(rows):
        hubs.setdefault(r[3][0], []).append(i)
    for members in hubs.values():
        rng.shuffle(members)
        k = 0
        while k < len(members):
            chain = members[k:k + rng.randint(1, 4)]
            for a, b in zip(chain, chain[1:]):
                rows[a][3].append(rows[b][0])
            k += len(chain)
    table = pa.table({
        "entity_id": [r[0] for r in rows],
        "name_key": [r[1] for r in rows],
        "kingdom": [r[2] for r in rows],
        "aliases": pa.array([r[3] for r in rows], pa.list_(pa.string())),
    })
    pq.write_table(table, path)
    return [tuple(r) for r in rows]


def link_oracle(ranges: list[tuple[int, int]], dict_path: str) -> list[tuple]:
    """(conv_id, name_key, entity_id) rows the linker must produce: the
    recipe's taxon keys (``__spark_entry__._linking_oracle`` pattern)
    joined with the dictionary in DuckDB."""
    con = _duck(ranges)
    try:
        return con.execute(f"""
WITH r AS ({recipe_cte('documents')}),
k AS (SELECT conv_id, lower(g || ' ' || sp) AS name_key
      FROM r WHERE err NOT IN (1, 2, 4))
SELECT k.conv_id, k.name_key, d.entity_id
FROM k JOIN read_parquet('{dict_path}') d ON d.name_key = k.name_key
""").fetchall()
    finally:
        con.close()


def components(rows: list[tuple]) -> dict[str, str]:
    """Union-find over the alias edges (entity_id -- alias): node ->
    smallest node of its component (``connected_components``' label)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for eid, _, _, aliases in rows:
        for a in aliases:
            ra, rb = find(eid), find(a)
            if ra != rb:
                # the smaller root wins, so every root is its set's minimum
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}
