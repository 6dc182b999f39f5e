"""The benchmark's workloads: what each operation runs and how its output
is checked.

Batch workloads run registry queries (``__spark_entry__.queries()``)
and, in ``corpus_batch``, the ingest pipeline. Serve workloads send
MCP-style commands to ``MemoryEngine.execute_command`` from one
closed-loop client: the next request goes out when the previous one
has returned.
"""

from __future__ import annotations

import itertools
import math
import random
import re

# Iterative graph queries whose plan build runs most of their Spark jobs
# as eager actions (triangles, k-core peeling, connected components).
GRAPH_QUERIES = ["q79_triangles", "q95_kcore", "q35_components"]
# Semantic dedup, then payload decoders: WARC in sources.formats, JPEG in
# operators.multimodal. Their time goes to Arrow Python workers and
# shuffles.
CORPUS_QUERIES = ["q85_semdedup", "q170_warc_parse", "q162_jpeg_pixels"]
INGEST = "ingest"
BATCH_OPS = GRAPH_QUERIES + [INGEST] + CORPUS_QUERIES
# Registry indexes (names as ``prepare_indexes`` reports them) that the
# batch queries read; every set-up repeat builds them anew.
PREPARE = ["tables", "edges", "sym_adj", "ivf16"]
EMBED_DIM = 64

READ_KINDS = ["get_node", "query", "search", "neighbors", "traverse"]
SERVE_KINDS = ["get_node", "query", "query_cached", "search", "neighbors",
               "traverse", "update_rating"]
WRITE_KIND = "update_rating"
# serve_write: after the warm-up, request i is a write when i % 10 == 4.
# A window of at least 15 requests samples every kind, reads after the
# first write, and ends with the second write.
WRITE_EVERY, WRITE_AT = 10, 4
MIN_REQUESTS = 15
TRAVERSE_DEPTH = 2
# The fixed pool of query templates: one per source value of the
# documents table (datagen writes src0..src19), each a distinct key of
# the session's result cache.
QUERY_TEMPLATES = [
    {"action": "query",
     "filters": [{"field": "source", "op": "eq", "value": f"src{k}"}],
     "sorts": [{"field": "rating_richness", "ascending": False},
               {"field": "node_id", "ascending": True}],
     "limit": 10}
    for k in range(20)]
SEARCH_TERMS = ["join", "merge", "scan", "stream", "window", "filter"]
CONFIRMATIONS = [0.25, 0.5, 1.0]
CONTRADICTIONS = [0.0, 0.25]


class CheckFailed(Exception):
    """An operation returned a wrong answer."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- batch -------------------------------------------------------------------

def ingest_frame(spark, sf_dir: str):
    """documents → knowledge units → nodes → embeddings."""
    from memory_engine_spark.operators import ingestion
    from memory_engine_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    nodes = ingestion.units_to_nodes(
        ingestion.extract_units(docs, "text", "source"))
    return ingestion.embed_column(nodes, "content", dim=EMBED_DIM) \
        .select("node_id", "embedding")


def expected_units(texts) -> int:
    """Distinct sentence spans of at least 20 characters: the node count
    the ingest pipeline must produce."""
    spans = set()
    for text in texts:
        for part in re.split(r"[.!?\n]+", text):
            if len(part.strip()) >= 20:
                spans.add(part.strip())
    return len(spans)


def check_ingest(rows, texts) -> None:
    ids = [r["node_id"] for r in rows]
    _require(len(ids) == expected_units(texts),
             f"ingest: {len(ids)} nodes, expected {expected_units(texts)}")
    _require(len(set(ids)) == len(ids), "ingest: duplicate node ids")
    for r in rows:
        v = r["embedding"]
        _require(v is not None and len(v) == EMBED_DIM,
                 f"ingest: embedding of {r['node_id']} has wrong size")
        _require(abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-3,
                 f"ingest: embedding of {r['node_id']} is not unit length")


class Oracle:
    """The registry's DuckDB oracle over one dataset, compared the way
    ``tools/oracle_check.py`` compares (order-insensitive canonical
    rows)."""

    def __init__(self, sf_dir: str, oracle_sql: dict, canon_rows):
        import duckdb

        from memory_engine_spark.sources.tables import TABLE_NAMES

        self.sql, self.rows_key = oracle_sql, canon_rows
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def check(self, name: str, columns, rows) -> None:
        _require(name in self.sql, f"{name}: no oracle")
        rel = self.con.execute(self.sql[name])
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
        _require(sorted(columns) == sorted(ocols),
                 f"{name}: columns {sorted(columns)} != {sorted(ocols)}")
        _require(len(rows) == len(orows),
                 f"{name}: {len(rows)} rows, oracle {len(orows)}")
        _require(self.rows_key(columns, [tuple(r) for r in rows])
                 == self.rows_key(ocols, orows), f"{name}: values differ")

    def close(self) -> None:
        self.con.close()


# -- serve -------------------------------------------------------------------

def build_engine(spark, sf_dir: str):
    """Knowledge graph from the documents table: nodes from the ingest
    pipeline, SIMILAR_TAGS edges from tag-set Jaccard. Both are
    persisted and materialized, as an engine holds them."""
    from pyspark.sql import functions as F

    from memory_engine_spark.engine import MemoryEngine
    from memory_engine_spark.operators import discovery, ingestion
    from memory_engine_spark.session import EngineSession
    from memory_engine_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    nodes = ingestion.units_to_nodes(
        ingestion.extract_units(docs, "text", "source")).persist()
    edges = discovery.similar_tags(nodes, "tags", "node_id").select(
        F.col("a").alias("from_id"), F.col("b").alias("to_id"),
        "relation_type", F.col("confidence").alias("confidence_score"),
    ).persist()
    n_nodes, n_edges = nodes.count(), edges.count()
    session = EngineSession(spark)
    session.register("nodes", nodes)
    session.register("edges", edges)
    return MemoryEngine(session), n_nodes, n_edges


def request_stream(seed: int, node_ids: list[str]):
    """Endless request stream; yields (kind, command).

    The first ``len(READ_KINDS)`` requests are the warm-up, one of each
    read kind. After them reads cycle through ``READ_KINDS`` and request
    i (counted from the end of the warm-up) is an ``update_rating`` when
    i % 10 == 4. The order of kinds does not
    depend on the seed; the seed draws the arguments (node ids, query
    templates, search terms, rating changes).

    A query draws from ``QUERY_TEMPLATES``. The session caches each
    query's result until the next write, so the stream alternates: a
    query repeats a template sent since the last write, when there is
    one and the previous query did not repeat (kind ``query_cached``),
    and otherwise draws a template not sent since the last write (kind
    ``query``)."""
    rng = random.Random(seed)
    recent: list[int] = []      # templates sent since the last write
    repeated = False

    def read(kind):
        nonlocal repeated
        if kind == "get_node":
            return kind, {"action": kind, "node_id": rng.choice(node_ids)}
        if kind == "query":
            if recent and not repeated:
                repeated = True
                return "query_cached", QUERY_TEMPLATES[rng.choice(recent)]
            repeated = False
            recent.append(rng.choice([k for k in range(len(QUERY_TEMPLATES))
                                      if k not in recent]))
            return kind, QUERY_TEMPLATES[recent[-1]]
        if kind == "search":
            return kind, {"action": kind, "query": rng.choice(SEARCH_TERMS),
                          "limit": 10}
        if kind == "neighbors":
            return kind, {"action": kind, "node_ids": [rng.choice(node_ids)]}
        return kind, {"action": kind, "node_ids": [rng.choice(node_ids)],
                      "max_depth": TRAVERSE_DEPTH}

    for kind in READ_KINDS:
        yield read(kind)
    i = 0
    for kind in itertools.cycle(READ_KINDS):
        if i % WRITE_EVERY == WRITE_AT:
            recent.clear()
            i += 1
            yield WRITE_KIND, {
                "action": WRITE_KIND, "node_id": rng.choice(node_ids),
                "confirmation": rng.choice(CONFIRMATIONS),
                "contradiction": rng.choice(CONTRADICTIONS)}
        i += 1
        yield read(kind)


def truthfulness_after(old: float, confirmation: float,
                       contradiction: float) -> float:
    """The reference's rating update: clamp(old + 0.2·c − 0.2·x, 0, 1)."""
    return min(max(old + 0.2 * confirmation - 0.2 * contradiction, 0.0), 1.0)


class ServeModel:
    """What the client knows about the engine's state, to check replies:
    the truthfulness each node must have after the writes so far."""

    def __init__(self, initial_truthfulness: float = 0.5):
        self.initial = initial_truthfulness
        self.truth: dict[str, float] = {}

    def expect(self, node_id: str) -> float:
        return self.truth.get(node_id, self.initial)

    def check(self, cmd: dict, reply: dict) -> None:
        kind = cmd["action"]
        _require(reply.get("status") == "ok",
                 f"{kind}: {reply.get('error', 'status not ok')}")
        if kind == "get_node":
            node = reply["node"]
            _require(node["node_id"] == cmd["node_id"],
                     f"get_node: asked {cmd['node_id']}, got "
                     f"{node['node_id']}")
            _require(abs(node["rating_truthfulness"]
                         - self.expect(cmd["node_id"])) < 1e-9,
                     f"get_node: truthfulness of {cmd['node_id']} is "
                     f"{node['rating_truthfulness']}, expected "
                     f"{self.expect(cmd['node_id'])}")
        elif kind == "query":
            rows = reply["results"]
            want = cmd["filters"][0]["value"]
            _require(all(r["source"] == want for r in rows),
                     "query: row outside the filter")
            keys = [(-r["rating_richness"], r["node_id"]) for r in rows]
            _require(keys == sorted(keys), "query: rows out of order")
            # written nodes must show their new rating, hit or miss
            for r in rows:
                _require(abs(r["rating_truthfulness"]
                             - self.expect(r["node_id"])) < 1e-9,
                         f"query: stale truthfulness of {r['node_id']}")
        elif kind == "search":
            scores = [r["combined_score"] for r in reply["results"]]
            _require(all(a >= b for a, b in zip(scores, scores[1:])),
                     "search: results not ordered by combined_score")
        elif kind == "neighbors":
            _require(all(r["node_id"] in cmd["node_ids"]
                         for r in reply["neighbors"]),
                     "neighbors: row for a node not asked for")
        elif kind == "traverse":
            dist = [r["hop_distance"] for r in reply["nodes"]]
            _require(all(0 <= d <= cmd["max_depth"] for d in dist),
                     "traverse: distance beyond max_depth")
            _require(set(cmd["node_ids"]) <= {r["node_id"]
                                              for r in reply["nodes"]},
                     "traverse: start node missing")

    def wrote(self, cmd: dict) -> float:
        """Record an acknowledged write; returns the value a read must
        now return."""
        value = truthfulness_after(self.expect(cmd["node_id"]),
                                   cmd["confirmation"],
                                   cmd["contradiction"])
        self.truth[cmd["node_id"]] = value
        return value
