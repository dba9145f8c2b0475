"""The benchmark's workloads: inputs, one op, and the check of its output.

Each workload is a closed loop with one caller. ``make_inputs`` makes the
seed's inputs (``bulk_build``: pages; ``search_mix``: query parameters drawn
from its graph, which ``prepare`` builds once per checkout); ``setup`` reads
them (and, for ``search_mix``, builds the indexes and warms each query
kind); ``op`` is the timed call into kgspark's public API; ``check`` runs
after the timed window and returns one verdict per op.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgspark import (datapipe, fulltext, maintenance, pipeline, search,
                     segments, streaming, udfs)
from kgspark import io as kio
from kgspark.datagen import PAGES_DDL, pages_pandas
from kgspark.oracle import run_oracle

EDGE_KEY = ("uuid", "valid_at", "invalid_at")
PR_MIN = 0.95     # the tier-1 precision/recall rule (tests/test_pipeline_vs_oracle.py)


# datagen.PAGES_DDL; timestamps in UTC, the session's time zone
PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("group_id", pa.string()), ("source", pa.string())])


def write_pages(pdf, path: str) -> None:
    """Pages as one parquet file, written with pyarrow in this process.
    Naive timestamps are UTC, as createDataFrame reads them here."""
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_ARROW,
                                        preserve_index=False), path)


def edge_signature(edges) -> tuple[int, int]:
    """Edge count and an order-independent crc32 sum over the bi-temporal
    edge key."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(
            "|", *[F.col(c).cast("string") for c in EDGE_KEY]))).alias("sig"),
    ).first()
    return int(row["n"]), int(row["sig"] or 0)


def _ts(v):
    import pandas as pd
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    return v.to_pydatetime() if isinstance(v, pd.Timestamp) else v


def _pr(spark_set: set, oracle_set: set) -> tuple[float, float]:
    inter = len(spark_set & oracle_set)
    return inter / max(len(spark_set), 1), inter / max(len(oracle_set), 1)


def oracle_verdict(spark, base: str, oracle: dict) -> dict:
    """Precision and recall of the persisted edges, nodes and mentions
    against the single-process oracle on the same pages."""
    edges = kio.read_table(spark, base, "edges").select(
        "group_id", "source_node_uuid", "name", "target_node_uuid",
        "valid_at", "invalid_at", "expired_at").collect()
    s_edges = {(r[0], r[1], r[2], r[3], r[4], r[5], r[6] is not None)
               for r in edges}
    o_edges = {(r["group_id"], r["source_node_uuid"], r["name"],
                r["target_node_uuid"], _ts(r["valid_at"]), _ts(r["invalid_at"]),
                _ts(r["expired_at"]) is not None)
               for r in oracle["edges"].to_dict("records")}
    s_nodes = {(r[0], r[1]) for r in kio.read_table(spark, base, "nodes")
               .select("group_id", "uuid").collect()}
    o_nodes = set(zip(oracle["nodes"]["group_id"], oracle["nodes"]["uuid"]))
    s_ment = {(r[0], r[1]) for r in kio.read_table(spark, base, "mentions")
              .select("episode_uuid", "node_uuid").collect()}
    o_ment = set(zip(oracle["mentions"]["episode_uuid"],
                     oracle["mentions"]["node_uuid"]))
    out = {}
    for name, s, o in (("edges", s_edges, o_edges), ("nodes", s_nodes, o_nodes),
                       ("mentions", s_ment, o_ment)):
        p, r = _pr(s, o)
        out[name] = {"precision": round(p, 4), "recall": round(r, 4)}
    out["ok"] = bool(o_edges) and all(
        v["precision"] >= PR_MIN and v["recall"] >= PR_MIN
        for k, v in out.items() if k != "ok")
    return out


class BulkBuild:
    """Input table to persisted graph: one ``io.run_resumable`` per op."""

    name = "bulk_build"
    N_PAGES = 1000
    N_FILES = 16
    LIMIT = 10

    def __init__(self, spark, work: Path, seed: int,
                 fixture: Path | None = None):
        self.spark, self.work, self.seed = spark, work, seed

    def sizes(self) -> dict:
        return {"pages": self.N_PAGES, "files": self.N_FILES, "richness": 1}

    @classmethod
    def fixture(cls, cache: Path, digest: str) -> Path | None:
        return None

    def make_inputs(self) -> None:
        """The seed's pages (``datagen.pages_pandas``, the same rows
        ``pages_spark`` generates) written as parquet files with pyarrow, in
        this process: a Spark job here would warm the JVM for the op."""
        self.pages_path = str(self.work / "pages")
        os.makedirs(self.pages_path)
        pdf = pages_pandas(self.N_PAGES, seed=self.seed)
        step = -(-len(pdf) // self.N_FILES)
        for i in range(self.N_FILES):
            write_pages(pdf.iloc[i * step:(i + 1) * step],
                        f"{self.pages_path}/part-{i:05d}.parquet")

    def setup(self) -> None:
        self.pages = self.spark.read.schema(PAGES_DDL).parquet(self.pages_path)

    def op(self, i: int) -> dict:
        base = str(self.work / f"graph_{i}")
        t = time.perf_counter()
        kio.run_resumable(self.spark, self.pages, base)
        return {"latency_s": time.perf_counter() - t, "base": base}

    def check(self, records: list[dict]) -> tuple[list[bool], dict]:
        with ThreadPoolExecutor(1) as pool:
            # the oracle runs in this process while Spark reads the edges
            oracle = pool.submit(lambda: run_oracle(
                pages_pandas(self.N_PAGES, seed=self.seed)))
            sigs = [edge_signature(kio.read_table(self.spark, rec["base"],
                                                  "edges"))
                    for rec in records]
            oracle = oracle.result()
        verdicts, detail = [], {"ops": []}
        for rec, sig in zip(records, sigs):
            v = oracle_verdict(self.spark, rec["base"], oracle)
            detail["ops"].append({"edges": sig[0], "crc32": sig[1], **v})
            verdicts.append(v["ok"])
        # every op in a run must persist the same edges
        verdicts = [ok and sig == sigs[0] for ok, sig in zip(verdicts, sigs)]
        detail["signature"] = list(sigs[0]) if sigs else None
        for rec in records:
            shutil.rmtree(rec["base"], ignore_errors=True)
        return verdicts, detail

    # -- the write side, made only in the traced run -------------------------
    STREAM_PAGES = 8
    IVF_CLUSTERS = 2

    def stream_inputs(self) -> None:
        """One page file for ``streaming.incremental_ingest``: the earliest
        pages of the seed's smallest group. ``recrawl`` is the first of them
        again, later and with the text of the group's next page, for the
        IVF update that tombstones its old vector; ``stream_pages`` keeps
        each url's latest crawl."""
        import pandas as pd
        pdf = pages_pandas(self.N_PAGES, seed=self.seed)
        group = pdf["group_id"].value_counts().sort_index().idxmin()
        n = self.STREAM_PAGES
        pages = (pdf[pdf["group_id"] == group].sort_values(["warc_ts", "url"])
                 .head(n + 1).reset_index(drop=True))
        self.recrawl = pages.iloc[[0]].copy()
        self.recrawl[["html", "text"]] = pages.iloc[[n]][["html", "text"]].values
        self.recrawl["warc_ts"] = pages["warc_ts"].max() + pd.Timedelta(seconds=1)
        self.streamed = pages.iloc[:n]
        self.stream_pages = pd.concat([self.recrawl, pages.iloc[1:n]],
                                      ignore_index=True)
        self.stream_dir = self.work / "stream"
        os.makedirs(self.stream_dir / "in")
        write_pages(self.streamed,
                    str(self.stream_dir / "in" / "part-00000.parquet"))

    def stream_ingest(self) -> list[float]:
        """One ``incremental_ingest`` over the file, which builds the graph
        and an IVF index over the page-text embeddings; returns each
        non-empty micro-batch's ``triggerExecution`` seconds."""
        d = self.stream_dir
        q = streaming.incremental_ingest(
            self.spark, str(d / "in"), str(d / "graph"),
            ivf_index_dir=str(d / "ivf"), ivf_clusters=self.IVF_CLUSTERS)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p if isinstance(p, dict) else json.loads(p)
                    for p in q.recentProgress]
        return [p["durationMs"]["triggerExecution"] / 1e3
                for p in progress if p["numInputRows"]]

    def stream_update(self) -> None:
        """Fold the re-crawled page into the IVF index as a new committed
        generation, with the calls ``incremental_ingest`` makes for an
        update batch: its page-text embedding, pinned, then
        ``update_ivf_index``."""
        vecs = (self.spark.createDataFrame(self.recrawl, PAGES_DDL)
                .select("url", udfs.embed_expr()(F.col("text"))
                        .alias("embedding")).localCheckpoint())
        datapipe.update_ivf_index(vecs, str(self.stream_dir / "ivf"),
                                  id_col="url", emb_col="embedding")

    def stream_check(self, batch_s: list[float]) -> dict:
        """The streamed graph against the oracle on the streamed pages (the
        P/R rule of ``check``), and the IVF index converged: committed
        generation 1, and at full probe the same top-k as brute force over
        the latest crawl's embeddings."""
        d = self.stream_dir
        out = {"batch_s": [round(s, 2) for s in batch_s],
               "ivf_generation": segments.committed_gen(str(d / "ivf"))}
        with ThreadPoolExecutor(1) as pool:
            # the two checks' jobs are too small to fill the cores
            graph = pool.submit(lambda: oracle_verdict(
                self.spark, str(d / "graph"), run_oracle(self.streamed)))
            vecs = (self.spark.createDataFrame(self.stream_pages, PAGES_DDL)
                    .select("url", udfs.embed_expr()(F.col("text"))
                            .alias("embedding")).localCheckpoint())
            qv = [float(x) for x in vecs.orderBy("url").first()["embedding"]]
            want = [r["id"] for r in datapipe.ann_bruteforce(
                vecs, qv, self.LIMIT, id_col="url",
                emb_col="embedding").collect()]
            got = [r["id"] for r in datapipe.ann_ivf_indexed(
                self.spark, str(d / "ivf"), qv, self.LIMIT,
                nprobe=self.IVF_CLUSTERS, id_col="url",
                emb_col="embedding").collect()]
            out["graph"] = graph.result()
        out["ivf_full_probe"] = got == want
        out["ok"] = (len(batch_s) == 1 and out["graph"]["ok"]
                     and out["ivf_generation"] == 1 and out["ivf_full_probe"])
        return out


# ---------------------------------------------------------------------------


_NO_SUCH_TERMS = ("quorvex", "zintal", "brumfeld", "oxlamine", "trevash",
                  "pallucid", "snorvik", "ghentra")


class SearchMix:
    """Read side: rounds of one edge hybrid, one node hybrid and one ANN
    query over a persisted graph and its fulltext and ANN indexes."""

    name = "search_mix"
    N_PAGES = 100
    GRAPH_SEED = 42           # datagen.SEED; the queries come from --seed
    LIMIT = 10
    KINDS = ("edge_hybrid", "node_hybrid", "ann")

    def __init__(self, spark, work: Path, seed: int, graph: Path):
        self.spark, self.work, self.seed = spark, work, seed
        self.graph = graph

    def sizes(self) -> dict:
        return {"pages": self.N_PAGES, "graph_seed": self.GRAPH_SEED,
                "richness": 1, **getattr(self, "graph_sizes", {})}

    @classmethod
    def fixture(cls, cache: Path, digest: str) -> Path:
        """Where the graph the queries read is kept (see ``prepare``)."""
        return cache / f"search_graph-{cls.N_PAGES}-{cls.GRAPH_SEED}-{digest}"

    def prepare(self, path: Path) -> dict:
        """Build the graph the queries read: ``build_graph`` over the pages
        of ``GRAPH_SEED``, its nodes and edges persisted with
        ``write_tables`` at ``path``. It depends only on the kgspark
        sources, so a checkout builds it once per source digest, in a
        process of its own, and checks it against the oracle. It is not
        part of any run's set-up."""
        pdf = pages_pandas(self.N_PAGES, seed=self.GRAPH_SEED)
        out = pipeline.build_graph(self.spark.createDataFrame(pdf, PAGES_DDL),
                                   check_text=False)
        tmp = path.parent / f"tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        kio.write_tables({t: out[t] for t in ("nodes", "edges", "mentions")},
                         str(tmp))
        verdict = oracle_verdict(self.spark, str(tmp), run_oracle(pdf))
        if not verdict["ok"]:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(f"search graph failed its oracle check: {verdict}")
        shutil.rmtree(tmp / "mentions")
        # a rename, so that a run never sees a half-written graph
        os.replace(tmp, path)
        return verdict

    def make_inputs(self) -> None:
        """The queries' parameters, drawn from the graph under the seed."""
        self.edges = kio.read_table(self.spark, str(self.graph), "edges")
        self.nodes = kio.read_table(self.spark, str(self.graph), "nodes")
        self.rounds = self._draw_rounds()

    def setup(self) -> None:
        self.edges_text = self._search_text(self.edges, "edge_name_and_fact")
        t = time.perf_counter()
        # each kind's index is built and its query path warmed side by side:
        # their jobs are too small to fill the cores
        with ThreadPoolExecutor(len(self.KINDS)) as pool:
            for done in [pool.submit(self._ready, q) for q in self.rounds[-1]]:
                done.result()
        self.setup_parts = {"indexes_and_warmup_s": time.perf_counter() - t}

    def _ready(self, q: dict) -> None:
        """Build the index query ``q``'s kind reads, then run ``q``: the
        warm-up, on the same code path as the timed rounds. A search
        service stays up between queries, so its users do not pay the
        first-query cost."""
        fulltext_dir = str(self.work / "fulltext")
        if q["kind"] == "edge_hybrid":
            self.edge_index = maintenance.build_indices_and_constraints(
                {"edges": self.edges}, fulltext_dir)["edge_name_and_fact"]
        elif q["kind"] == "node_hybrid":
            self.node_index = maintenance.build_indices_and_constraints(
                {"nodes": self.nodes}, fulltext_dir)["node_name_and_summary"]
        else:
            self.ann_index = str(self.work / "ann")
            datapipe.build_ann_index(
                self.nodes.select("uuid", "name_embedding"), self.ann_index,
                id_col="uuid", emb_col="name_embedding")
        self.run_query(q)

    def maintenance_round(self) -> None:
        """Fold a twentieth of the rows back into the edge fulltext index and
        the ANN index as a new committed generation. The rows replace their
        own earlier versions (tombstone plus append), so the indexes still
        cover exactly the tables."""
        delta = (F.abs(F.hash("uuid")) % 20) == 0
        fulltext.update_fulltext_index(self.edges_text.filter(delta),
                                       "__search_text", self.edge_index)
        datapipe.update_ann_index(
            self.nodes.select("uuid", "name_embedding").filter(delta),
            self.ann_index, id_col="uuid", emb_col="name_embedding")

    def maintenance_check(self, _) -> dict:
        """Each index's committed generation moved from 0 to 1."""
        gens = {"edge_fulltext": segments.committed_gen(self.edge_index),
                "ann": segments.committed_gen(self.ann_index)}
        gens["ok"] = all(g == 1 for g in gens.values())
        return gens

    @staticmethod
    def _search_text(df, index_name: str):
        _, cols = maintenance.FULLTEXT_INDEXES[index_name]
        return df.withColumn("__search_text", F.concat_ws(" ", *[
            F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]))

    def _draw_rounds(self, n: int = 200) -> list[list[dict]]:
        """Query parameters drawn from the graph under the seed.

        Every round has the same shape, so rounds can be compared and the
        warm-up round runs every code path the timed rounds run: the edge
        query takes two words of one edge's fact and filters to that edge's
        group; the node query takes two words the corpus lacks and searches
        all groups; the ANN query embeds two words of one node's name (ANN
        has no group filter). Only the words and the group come from the
        seed."""
        facts = sorted((r[0], r[1]) for r in
                       self.edges.select("fact", "group_id").collect())
        nodes = sorted((r[0], r[1]) for r in
                       self.nodes.select("uuid", "name").collect())
        self.node_ids = {u for u, _ in nodes}
        names = [n for _, n in nodes]
        groups = {g for _, g in facts}
        self.graph_sizes = {"edges": len(facts), "nodes": len(names),
                            "groups": len(groups)}
        rng = random.Random(f"perfbench|search_mix|{self.seed}")

        def two(words: list[str]) -> str:
            return " ".join(rng.sample(words, min(2, len(words))))

        out = []
        for _ in range(n):
            fact, group = rng.choice(facts)
            out.append([
                {"kind": "edge_hybrid", "text": two(fact.split()),
                 "groups": [group], "known": True},
                {"kind": "node_hybrid", "text": two(list(_NO_SUCH_TERMS)),
                 "groups": None, "known": False},
                {"kind": "ann", "text": two(rng.choice(names).split()),
                 "groups": None, "known": True}])
        return out

    def run_query(self, q: dict):
        if q["kind"] == "edge_hybrid":
            return search.hybrid_search(
                self.edges, "fact", "fact_embedding", q["text"],
                group_ids=q["groups"],
                fulltext_index_path=self.edge_index).collect()
        if q["kind"] == "node_hybrid":
            return search.hybrid_node_search(
                self.nodes, [q["text"]], [search.search_text_query(q["text"])],
                group_ids=q["groups"], limit=self.LIMIT,
                fulltext_index_path=self.node_index).collect()
        return datapipe.ann_query_indexed(
            self.spark, self.ann_index, search.search_text_query(q["text"]),
            k=self.LIMIT, id_col="uuid", emb_col="name_embedding").collect()

    def op(self, i: int) -> dict:
        """One round: the edge, node and ANN query in turn. Its latency is
        the sum of the three, so each kind counts in every op."""
        lat, ids = {}, {}
        for q in self.rounds[i % (len(self.rounds) - 1)]:
            t = time.perf_counter()
            rows = self.run_query(q)
            lat[q["kind"]] = time.perf_counter() - t
            ids[q["kind"]] = [r[0] for r in rows]
        return {"latency_s": sum(lat.values()), "kind_latency_s": lat,
                "i": i, "ids": ids}

    # -- checks --------------------------------------------------------------
    def _bm25_matches(self, q: dict, table, index: str, limit: int) -> bool:
        want = {r["uuid"]: r["score"] for r in fulltext.bm25_search(
            table, "__search_text", q["text"], limit, q["groups"]).collect()}
        got = {r["uuid"]: r["score"] for r in fulltext.bm25_query_indexed(
            self.spark, index, q["text"], limit, q["groups"]).collect()}
        return set(got) == set(want) and all(
            math.isclose(got[k], want[k], rel_tol=1e-9, abs_tol=1e-9)
            for k in want)

    def _ann_matches(self, q: dict) -> bool:
        qv = search.search_text_query(q["text"])
        want = [r["id"] for r in datapipe.ann_bruteforce(
            self.nodes.select("uuid", "name_embedding"), qv, self.LIMIT,
            id_col="uuid", emb_col="name_embedding").collect()]
        got = [r["id"] for r in datapipe.ann_query_indexed(
            self.spark, self.ann_index, qv, self.LIMIT, probe_hamming=12,
            id_col="uuid", emb_col="name_embedding").collect()]
        return got == want

    def check(self, records: list[dict]) -> tuple[list[bool], dict]:
        # every query of every round: a well-formed top-k with unique ids and
        # no more rows than its limit (node search returns every hit of its
        # two legs); the edge query, whose words come from an edge of the
        # group it filters to, has a hit; ANN returns node ids only. An ANN
        # query may return nothing: at its default probe it scans 79 of 4,096
        # buckets.
        caps = {"edge_hybrid": search.EDGE_HYBRID_SEARCH_RRF.limit,
                "node_hybrid": 4 * search.RELEVANT_SCHEMA_LIMIT,
                "ann": self.LIMIT}
        verdicts, bad = [], []
        for rec in records:
            ok = True
            for q in self.rounds[rec["i"] % (len(self.rounds) - 1)]:
                ids = rec["ids"][q["kind"]]
                if not (len(ids) == len(set(ids))
                        and len(ids) <= caps[q["kind"]]
                        and bool(ids or q["kind"] != "edge_hybrid")
                        and (q["kind"] != "ann" or set(ids) <= self.node_ids)):
                    ok = False
                    bad.append({"round": rec["i"], **q, "rows": len(ids),
                                "unique": len(set(ids))})
            verdicts.append(ok)
        # the first round: its edge query's indexed BM25 leg equals the
        # scan-path bm25_search (with the limit hybrid_search passes it), and
        # its ANN query at full probe equals brute force. Each check costs
        # about as much as a query, so a run makes two.
        sampled = {}
        if records:
            first = self.rounds[records[0]["i"] % (len(self.rounds) - 1)]
            edge_q, _, ann_q = first
            with ThreadPoolExecutor(2) as pool:
                bm25 = pool.submit(
                    self._bm25_matches, edge_q, self.edges_text,
                    self.edge_index, 2 * search.EDGE_HYBRID_SEARCH_RRF.limit)
                ann = pool.submit(self._ann_matches, ann_q)
                sampled = {"bm25_edge": bm25.result(),
                           "ann_full_probe": ann.result()}
            verdicts[0] = verdicts[0] and all(sampled.values())
        detail = {"sampled": sampled, "bad": bad,
                  "generations": {
                      "edge_fulltext": segments.committed_gen(self.edge_index),
                      "node_fulltext": segments.committed_gen(self.node_index),
                      "ann": segments.committed_gen(self.ann_index)}}
        return verdicts, detail


WORKLOADS = {w.name: w for w in (BulkBuild, SearchMix)}
