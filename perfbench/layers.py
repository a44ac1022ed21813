"""Traced-run instrumentation: spans around calls into the engine's public
functions, serial isolation legs per engine layer, and the GraphRAG query
requests with their DuckDB oracles.

Spans are recorded from outside the engine (wall-clock epoch ms, kept in
memory); the Spark event log supplies the job and task counters that
``eventlog.span_counters`` attributes to them.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deep_reason_spark.functions.broadcast import (
    broadcast_hint,
    broadcast_if_small,
)
from deep_reason_spark.functions.names import longest_name
from deep_reason_spark.operators.canonicalize import canonicalize_entities
from deep_reason_spark.operators.chunker import chunk_repo_files
from deep_reason_spark.operators.extractor import extract_triples
from deep_reason_spark.operators.graph import (
    add_combined_degree,
    build_edges,
    build_nodes_from_edges,
)
from deep_reason_spark.operators.linking import build_surface_map
from deep_reason_spark.operators.ontology import build_ontology
from deep_reason_spark.plans.kg_pipeline import (
    build_community_tables,
    canonical_entity_types,
)

# isolation legs, in pipeline order; "graph" is split into its three
# builders (edge aggregate, node table, combined degree)
LEGS = ("chunker", "extractor", "linking", "canonicalize", "graph.edges",
        "graph.nodes", "graph.degree", "ontology", "communities")
QUERY_SPANS = ("graph_search.local", "graph_search.drift",
               "graph_search.basic", "communities.global_search")


class Tracer:
    """In-memory spans plus the row counts of each leg's pinned output."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self.rows: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        start = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append((name, start, time.time() * 1000))

    @contextmanager
    def leg(self, name: str):
        """A span whose pinned frames (``pin``) count towards ``rows_out``.
        The counts run after the span closes, so their jobs are not the
        leg's."""
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            df = df.localCheckpoint()
            pinned.append(df)
            return df

        with self.span(name):
            yield pin
        with self.span("trace.count"):
            self.rows[name] = self.rows.get(name, 0) + sum(
                d.count() for d in pinned)


def extraction_legs(tracer: Tracer, files: DataFrame) -> DataFrame:
    """chunker and extractor legs over one staged corpus → pinned triples."""
    with tracer.leg("chunker") as pin:
        chunks = pin(chunk_repo_files(files))
    with tracer.leg("extractor") as pin:
        triples = pin(extract_triples(chunks))
    return triples


def graph_legs(tracer: Tracer, spark, triples: DataFrame,
               alias_dict: DataFrame, entity_types: DataFrame | None) -> None:
    """linking → communities legs, each over the previous leg's pinned
    output, wired the way ``kg_pipeline.run_graph_stage`` wires them."""
    with tracer.leg("linking") as pin:
        surface_map = pin(build_surface_map(triples, alias_dict))
    with tracer.leg("canonicalize") as pin:
        mapping = pin(canonicalize_entities(
            surface_map.select("entity_id", "canonical_name").distinct()))
    with tracer.leg("graph.edges") as pin:
        full_map = pin(surface_map.join(
            broadcast_if_small(mapping), "entity_id").select(
            "surface", "canonical_id", "canonical_name"))
        hint = broadcast_hint(full_map)

        def side(role: str, cid: str) -> DataFrame:
            return hint(full_map.select(F.col("surface").alias(role),
                                        F.col("canonical_id").alias(cid)))

        canonical = (triples.join(side("subject", "src"), "subject")
                     .join(side("object", "dst"), "object"))
        titles = pin(full_map.groupBy("canonical_id").agg(
            longest_name("canonical_name").alias("title")))
        edge_agg = pin(build_edges(
            canonical, names=titles.withColumnRenamed("title", "name")))
    with tracer.leg("graph.nodes") as pin:
        types = canonical_entity_types(spark, mapping, entity_types)
        pin(build_nodes_from_edges(edge_agg, titles, entity_types=types))
    with tracer.leg("graph.degree") as pin:
        pin(add_combined_degree(edge_agg))
    with tracer.leg("ontology") as pin:
        edge_pairs = edge_agg.select(
            F.col("source").alias("subject_id"),
            F.col("target").alias("object_id"),
            F.col("description").alias("predicate"))
        for df in build_ontology(
                edge_pairs, types.withColumnRenamed("canonical_id", "entity_id")):
            pin(df)
    with tracer.leg("communities") as pin:
        for df in build_community_tables(edge_agg):
            pin(df)


# ---------------------------------------------------------------------------
# GraphRAG query requests over a stored graph, each checked against DuckDB
# ---------------------------------------------------------------------------

def stage_query_tables(spark, graph_dir: str, files: DataFrame,
                       out: str) -> dict[str, str]:
    """Derive the query-side inputs from a stored graph (untimed):
    undirected weighted edges, per-entity text units, community
    assignments, chunk documents and the stored community reports."""
    edges = spark.read.parquet(os.path.join(graph_dir, "edges"))
    paths = {k: os.path.join(out, k) for k in ("edges", "units", "asg", "docs")}
    edges.groupBy(F.least("source", "target").alias("src"),
                  F.greatest("source", "target").alias("dst")).agg(
        F.sum("weight").alias("weight")).write.parquet(paths["edges"])
    (edges.select(F.col("source").alias("entity_id"),
                  F.explode("text_unit_ids").alias("u"))
     .groupBy("entity_id", F.col("u").cast("string").alias("unit_id"))
     .agg(F.count("*").cast("double").alias("score"))
     .write.parquet(paths["units"]))
    spark.read.parquet(os.path.join(graph_dir, "communities")).select(
        F.explode("entity_ids").alias("entity_id"), "community_id",
    ).write.parquet(paths["asg"])
    chunk_repo_files(files).select(
        F.concat_ws("#", "document_id", "order_id").alias("doc_id"), "text",
    ).write.parquet(paths["docs"])
    paths["reports"] = os.path.join(graph_dir, "community_reports")
    return paths


def _sql_list(values) -> str:
    return ", ".join("'" + str(v).replace("'", "''") + "'" for v in values)


def _local_sql(anchors_sql: str) -> str:
    """DuckDB twin of ``graph_search.local_search_context`` (top 5
    relations, top 3 text units per anchor) over views e and u."""
    return f"""
WITH qa AS ({anchors_sql}),
und AS (SELECT src AS anchor, dst AS ref_id, weight FROM e
        UNION ALL SELECT dst, src, weight FROM e),
rel AS (
  SELECT anchor, 'relation' AS kind, ref_id, score, rank FROM (
    SELECT x.anchor, x.ref_id, CAST(x.weight AS DOUBLE) AS score,
           ROW_NUMBER() OVER (PARTITION BY x.anchor
                              ORDER BY CAST(x.weight AS DOUBLE) DESC,
                                       x.ref_id) AS rank
    FROM und x JOIN (SELECT DISTINCT anchor FROM qa) a USING (anchor))
  WHERE rank <= 5),
units AS (
  SELECT anchor, 'text_unit' AS kind, ref_id, score, rank FROM (
    SELECT t.entity_id AS anchor, t.unit_id AS ref_id,
           CAST(t.score AS DOUBLE) AS score,
           ROW_NUMBER() OVER (PARTITION BY t.entity_id
                              ORDER BY t.score DESC, t.unit_id) AS rank
    FROM u t JOIN (SELECT DISTINCT anchor FROM qa) a
      ON a.anchor = t.entity_id)
  WHERE rank <= 3)
SELECT * FROM rel UNION ALL SELECT * FROM units"""


DRIFT_SQL = """
WITH primer AS (
  SELECT community_id FROM r
  ORDER BY rating DESC, community_id LIMIT 2),
internal AS (
  SELECT sa.community_id, k.src, k.dst FROM e k
  JOIN asg sa ON sa.entity_id = k.src
  JOIN asg sb ON sb.entity_id = k.dst
  WHERE sa.community_id = sb.community_id),
ideg AS (
  SELECT community_id, entity_id, COUNT(*) AS dg FROM (
    SELECT community_id, src AS entity_id FROM internal
    UNION ALL SELECT community_id, dst FROM internal)
  GROUP BY 1, 2),
anchors AS (
  SELECT community_id, entity_id AS anchor FROM (
    SELECT a.community_id, a.entity_id,
           ROW_NUMBER() OVER (PARTITION BY a.community_id
                              ORDER BY COALESCE(i.dg, 0) DESC,
                                       a.entity_id) AS rn
    FROM asg a JOIN primer USING (community_id)
    LEFT JOIN ideg i ON i.community_id = a.community_id
                    AND i.entity_id = a.entity_id)
  WHERE rn <= 2),
ctx AS ({local})
SELECT an.community_id, c.anchor, c.kind, c.ref_id, c.score, c.rank
FROM ctx c JOIN anchors an USING (anchor)"""

GLOBAL_SQL = """
SELECT *, ROW_NUMBER() OVER (ORDER BY rating DESC, community_id) AS rank
FROM r ORDER BY rating DESC, community_id LIMIT 10"""


def _basic_sql(question: str) -> str:
    """DuckDB twin of ``graph_search.basic_search_context`` (top 5)."""
    from deep_reason_spark.plans.rag_pipeline import STOPWORDS

    return f"""
WITH kw AS (
  SELECT DISTINCT 1 AS question_id, term FROM (
    SELECT unnest(list_filter(
      string_split_regex(lower({_sql_list([question])}), '[^a-z0-9]+'),
      w -> length(w) > 1 AND w NOT IN ({_sql_list(STOPWORDS)}))) AS term)),
dt AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9]+'), w -> length(w) > 1))
      AS term FROM d)),
hits AS (
  SELECT k.question_id, t.doc_id, COUNT(*) AS score
  FROM dt t JOIN kw k USING (term) GROUP BY 1, 2)
SELECT question_id, doc_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY question_id
                               ORDER BY score DESC, doc_id) AS rank
  FROM hits) WHERE rank <= 5"""


def _norm(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class QueryRequests:
    """The four GraphRAG request kinds over one set of staged tables.
    ``run`` times one request (collected to the driver) and checks its
    answer against DuckDB over the same parquet files."""

    def __init__(self, spark, paths: dict[str, str]) -> None:
        import duckdb

        self.spark, self.paths = spark, paths
        self.con = duckdb.connect()
        for view, key in (("e", "edges"), ("u", "units"), ("asg", "asg"),
                          ("d", "docs"), ("r", "reports")):
            self.con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet("
                f"'{paths[key]}/**/*.parquet')")
        degree = self.con.execute(
            "SELECT anchor, COUNT(*) AS dg FROM (SELECT src AS anchor FROM e "
            "UNION ALL SELECT dst FROM e) GROUP BY 1 ORDER BY dg DESC, anchor"
        ).fetchall()
        self.hub = degree[0][0]
        self.tail = [a for a, dg in degree if dg == 1] or [degree[-1][0]]
        self.middle = [a for a, _ in degree[1:len(degree) // 2]]
        self.words = [w for (w,) in self.con.execute(
            "SELECT DISTINCT term FROM (SELECT unnest(string_split_regex("
            "lower(text), '[^a-z0-9]+')) AS term FROM d) "
            "WHERE length(term) > 3 ORDER BY term").fetchall()]

    def close(self) -> None:
        self.con.close()

    def _read(self, key: str) -> DataFrame:
        return self.spark.read.parquet(self.paths[key])

    def _request(self, kind: str, rng: random.Random):
        """→ (thunk running the engine request, DuckDB SQL of its answer)."""
        from deep_reason_spark.operators.communities import global_search_reports
        from deep_reason_spark.plans.graph_search import (
            basic_search_context,
            drift_search_context,
            local_search_context,
        )

        if kind == "graph_search.local":
            anchors = [self.hub, rng.choice(self.middle or self.tail),
                       *rng.sample(self.tail, min(2, len(self.tail)))]
            return (lambda: local_search_context(
                self.spark.createDataFrame([(a,) for a in anchors],
                                           "anchor string"),
                self._read("edges"), self._read("units")),
                _local_sql("SELECT unnest([" + _sql_list(anchors)
                           + "]) AS anchor"))
        if kind == "graph_search.drift":
            return (lambda: drift_search_context(
                self._read("reports"), self._read("asg"), self._read("edges"),
                self._read("edges"), self._read("units")),
                DRIFT_SQL.format(local=_local_sql(
                    "SELECT DISTINCT anchor FROM anchors")))
        if kind == "communities.global_search":
            return (lambda: global_search_reports(self._read("reports"), k=10),
                    GLOBAL_SQL)
        question = " ".join(rng.sample(self.words, 3))
        return (lambda: basic_search_context(
            self.spark.createDataFrame([(1, question)],
                                       "question_id int, question string"),
            self._read("docs")),
            _basic_sql(question))

    def run(self, tracer: Tracer, kind: str,
            rng: random.Random) -> tuple[float, bool]:
        """One request in a ``kind`` span → (latency ms, answer equals
        DuckDB's). The DuckDB evaluation runs after the span."""
        build, sql = self._request(kind, rng)
        with tracer.span(kind):
            t0 = time.monotonic()
            df = build()
            rows = df.collect()
            ms = (time.monotonic() - t0) * 1000
        expected = self.con.execute(
            f"SELECT {', '.join(df.columns)} FROM ({sql})").fetchall()
        return ms, _norm(rows) == _norm(expected)

