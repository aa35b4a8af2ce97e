"""The three workloads: inputs, one timed iteration, and output checks.

Each workload object is driven by run.py in the same order:
``make_inputs`` (set-up), ``iterate`` (timed, closed loop, one client),
then ``check`` on the iteration's result (outside the timer). Spans
wrap the calls into the library; with tracing off they cost nothing.
"""

from __future__ import annotations

import hashlib
import random
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
import oracle
from entityframe_spark.core.quantize import threshold_to_fp
from entityframe_spark.operators.collection import Collection
from entityframe_spark.operators.entityframe import EntityFrame, col
from entityframe_spark.pipeline.blocking import build_candidate_pairs
from entityframe_spark.pipeline.dedup import (
    dedup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from entityframe_spark.pipeline.linkage import (
    assign_record_ids,
    cluster_edges,
    full_partition,
)
from entityframe_spark.pipeline.scoring import (
    attach_pair_texts,
    prepare_record_features,
    score_pairs,
)
from entityframe_spark.pipeline.transcripts import collapse_conversations


def _frame_digest(df) -> str:
    """Order-independent digest of a DataFrame's rows (decimal sum:
    a long sum of hashes overflows under ANSI mode)."""
    total = df.agg(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]
    return f"{df.count()}:{total}"


def _partition_digest(ids: np.ndarray, labels: np.ndarray) -> str:
    order = np.argsort(ids)
    h = hashlib.sha256(ids[order].tobytes() + labels[order].tobytes())
    return h.hexdigest()[:16]


class _Base:
    name = ""

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.n_records = 0
        self.digests: dict[str, str] = {}
        self.quality = 0.0
        self.counts: dict[str, float] = {}

    def _df(self, pdf: pd.DataFrame, schema: str):
        n = self.spark.sparkContext.defaultParallelism
        return (
            self.spark.createDataFrame(pdf, schema=schema)
            .repartition(n)
            .localCheckpoint(eager=True)
        )

    def _agree(self, key: str, value: str) -> int:
        """1 if ``value`` differs from the first checked iteration's ``key``."""
        first = self.digests.setdefault(key, value)
        return int(first != value)


class Linkage(_Base):
    """collapse -> block -> score -> cluster over seeded transcripts."""

    name = "linkage"
    N_BASE = 1200

    def make_inputs(self) -> str:
        data = gen.linkage_inputs(self.seed, self.N_BASE)
        self.truth = data["truth"]
        self.n_records = len(self.truth)
        self.transcripts = self._df(
            pd.DataFrame(data["rows"], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        return gen.digest(data["rows"])

    def iterate(self) -> dict:
        T = self.tracer
        with T.span("transcripts"):
            collapsed = prepare_record_features(
                assign_record_ids(collapse_conversations(self.transcripts))
            ).localCheckpoint(eager=False)
            n_records = collapsed.count()
        with T.span("blocking"):
            pairs = build_candidate_pairs(collapsed, max_block_size=64).localCheckpoint(
                eager=False
            )
            n_pairs = pairs.count()
        with T.span("scoring") as s:
            scored = score_pairs(
                attach_pair_texts(pairs, collapsed, features_count=n_records)
            ).localCheckpoint(eager=True)
            if s is not None:
                s.counts["pairs"] = n_pairs
        with T.span("linkage.cluster"):
            part = full_partition(collapsed, cluster_edges(scored, 0.5)).toPandas()
        return {
            "collapsed": collapsed,
            "pairs": pairs,
            "scored": scored,
            "part": part,
            "n_pairs": n_pairs,
        }

    def check(self, res: dict, full: bool) -> tuple[int, int]:
        part = res["part"]
        ids = part["record_id"].to_numpy(np.int64)
        labels = part["cluster_id"].to_numpy(np.int64)
        bad = self._agree("scored", _frame_digest(res["scored"]))
        bad |= self._agree("clusters", _partition_digest(ids, labels))
        if full:
            conv = res["collapsed"].select("record_id", "conv_id").toPandas()
            self.conv_of = dict(zip(conv["record_id"], conv["conv_id"]))
            truth = np.array([self.truth[self.conv_of[i]] for i in ids])
            self.quality = oracle.pair_metrics(labels, truth)["f1"]
            bad |= len(ids) != self.n_records or self.quality < 0.9
            self.counts["blocking.candidate_pairs"] = res["n_pairs"]
            pairs = res["pairs"].select("left_id", "right_id").toPandas()
            tl = pairs["left_id"].map(self.conv_of).map(self.truth)
            tr = pairs["right_id"].map(self.conv_of).map(self.truth)
            self.counts["blocking.match_ratio"] = float((tl == tr).mean())
            self._last = res
        return 1, bad

    def kernel_inputs(self) -> dict:
        scored = self._last["scored"].select("left_id", "right_id", "weight").toPandas()
        feats = self._last["collapsed"].select("record_id", "full_text").toPandas()
        text = dict(zip(feats["record_id"], feats["full_text"]))
        sample = scored.sample(n=min(20_000, len(scored)), random_state=self.seed)
        ids = pd.concat([scored["left_id"], scored["right_id"]]).unique()
        idx = {v: i for i, v in enumerate(ids)}
        return {
            "left": [text[i][:256] for i in sample["left_id"]],
            "right": [text[i][:256] for i in sample["right_id"]],
            "docs": feats["full_text"].tolist(),
            "src": scored["left_id"].map(idx).to_numpy(np.int64),
            "dst": scored["right_id"].map(idx).to_numpy(np.int64),
            "wfp": np.round(scored["weight"].to_numpy() * 1e6).astype(np.int64),
            "n_nodes": len(ids),
        }


class Dedup(_Base):
    """MinHash/LSH candidates -> n-gram Jaccard verify -> groups."""

    name = "dedup"
    N_DOCS = 8_000

    def make_inputs(self) -> str:
        data = gen.dedup_inputs(self.seed, self.N_DOCS)
        self.rows = data["rows"]
        self.truth = data["truth"]
        self.n_records = len(self.rows)
        self.docs = self._df(
            pd.DataFrame(self.rows, columns=["doc_id", "text"]), "doc_id long, text string"
        )
        return gen.digest(self.rows)

    def iterate(self) -> dict:
        T = self.tracer
        with T.span("dedup.lsh"):
            cands = minhash_lsh_candidates(self.docs).localCheckpoint(eager=True)
        with T.span("dedup.verify"):
            verified = ngram_jaccard_pairs(
                self.docs, min_jaccard=0.6, candidate_pairs=cands
            ).localCheckpoint(eager=True)
        with T.span("dedup.groups"):
            grp = dedup_groups(verified).toPandas()
        return {"cands": cands, "verified": verified, "grp": grp}

    def check(self, res: dict, full: bool) -> tuple[int, int]:
        grp = res["grp"]
        ids = grp["doc_id"].to_numpy(np.int64)
        labels = grp["group_id"].to_numpy(np.int64)
        bad = self._agree("verified", _frame_digest(res["verified"]))
        bad |= self._agree("groups", _partition_digest(ids, labels))
        if full:
            # every document: its group, or itself when it is in none
            label_of = dict(zip(ids.tolist(), labels.tolist()))
            pred = np.array([label_of.get(d, -1 - d) for d in range(self.n_records)])
            truth = np.array([self.truth[d] for d in range(self.n_records)])
            self.quality = oracle.pair_metrics(pred, truth)["f1"]
            bad |= self.quality < 0.9
            verified = res["verified"].toPandas()
            n_cands = res["cands"].count()
            self.counts["blocking.candidate_pairs"] = n_cands
            self.counts["dedup.verify_pass_ratio"] = len(verified) / max(n_cands, 1)
            sample = verified.sample(n=min(300, len(verified)), random_state=self.seed)
            text = dict(self.rows)
            for l, r, j in sample.itertuples(index=False):
                bad |= abs(oracle.word_ngram_jaccard(text[l], text[r]) - j) > 1e-6
            self._last = res
        return 1, bad

    def kernel_inputs(self) -> dict:
        v = self._last["verified"].toPandas()
        text = dict(self.rows)
        ids = pd.concat([v["left_id"], v["right_id"]]).unique()
        idx = {d: i for i, d in enumerate(ids)}
        return {
            "left": [text[i][:256] for i in v["left_id"]],
            "right": [text[i][:256] for i in v["right_id"]],
            "docs": [t for _, t in self.rows],
            "src": v["left_id"].map(idx).to_numpy(np.int64),
            "dst": v["right_id"].map(idx).to_numpy(np.int64),
            "wfp": np.round(v["jaccard"].to_numpy() * 1e6).astype(np.int64),
            "n_nodes": len(ids),
        }


# the evaluate point-query stream: a fixed pattern of (operation,
# threshold rank) so every seed costs the same number of LRU misses
# (2 distinct thresholds) and hits (4 repeats); only the threshold
# values and record ids come from the seed
_QUERY_PATTERN = [
    ("find", 0), ("count", 1), ("find", 0), ("find", 1), ("count", 0), ("find", 0),
]
_CHECK_T = (0.3, 0.5, 0.7)


class Evaluate(_Base):
    """Write side (two Collection builds) then read side (100x100
    sweep, a-vs-truth sweep, point queries) in every iteration."""

    name = "evaluate"
    N_RECORDS = 3_000

    def make_inputs(self) -> str:
        d = gen.evaluate_inputs(self.seed, self.N_RECORDS)
        self.data = d
        self.n_records = self.N_RECORDS
        keys = np.array([gen.record_key(i) for i in range(self.N_RECORDS)], dtype=object)

        def edges(w):
            return self._df(
                pd.DataFrame({"src": keys[d["src"]], "dst": keys[d["dst"]], "weight": w / 1e6}),
                "src string, dst string, weight double",
            )

        self.edges_a = edges(d["w_a"])
        self.edges_b = edges(d["w_b"])
        self.truth_mem = self._df(
            pd.DataFrame({"record_id": np.arange(self.N_RECORDS), "cluster_id": d["truth"]}),
            "record_id long, cluster_id long",
        )
        rng = random.Random(self.seed * 13 + 5)
        pool = rng.sample(range(5, 96), 2)
        self.stream = [
            (op, pool[rank] / 100, rng.randrange(self.N_RECORDS))
            for op, rank in _QUERY_PATTERN
        ]
        self._oracle: dict[float, np.ndarray] = {}
        self.query_ms: dict[str, list[float]] = {"hit": [], "miss": []}
        return gen.digest(
            [d["src"].tobytes(), d["dst"].tobytes(), d["w_a"].tobytes(), d["w_b"].tobytes(),
             d["truth"].tobytes(), self.stream]
        )

    def _labels(self, t: float) -> np.ndarray:
        if t not in self._oracle:
            d = self.data
            keep = d["w_a"] >= threshold_to_fp(t)
            self._oracle[t] = oracle.components(self.N_RECORDS, d["src"][keep], d["dst"][keep])
        return self._oracle[t]

    def iterate(self) -> dict:
        T = self.tracer
        with T.span("collection.build"):
            ef = EntityFrame()
            ef.add_collection("a", Collection.from_edges(self.edges_a))
            ef.add_collection("b", Collection.from_edges(self.edges_b))
            ef.add_collection_from_memberships("truth", self.truth_mem, ef.records)
        with T.span("entityframe.sweep") as s:
            grid = ef.analyse_df(
                col("a").sweep(0.0, 0.99, 0.01), col("b").sweep(0.0, 0.99, 0.01)
            ).toPandas()
            if s is not None:
                s.counts["grid_points"] = len(grid)
        with T.span("entityframe.truth_metrics"):
            tm = ef.analyse_df(col("a").sweep(0.0, 0.99, 0.01), col("truth").at(1.0)).toPandas()
        answers, lat = [], []
        a = ef["a"]
        with T.span("collection.query") as s:
            hits = 0
            for op, t, rid in self.stream:
                hit = threshold_to_fp(t) in getattr(a, "_cache", {})
                hits += hit
                t0 = time.perf_counter()
                try:
                    got = a.entity_count(t) if op == "count" else a.find_entity_for_record(rid, t)
                except Exception as e:  # a failed query counts; the stream goes on
                    got = e
                lat.append(((time.perf_counter() - t0) * 1e3, hit))
                answers.append(got)
            if s is not None:
                s.counts["at_hits"] = hits
                s.counts["at_calls"] = len(self.stream)
        return {"ef": ef, "grid": grid, "tm": tm, "answers": answers, "lat": lat}

    def check(self, res: dict, full: bool) -> tuple[int, int]:
        grid, tm = res["grid"], res["tm"]
        bad = self._agree("grid", hashlib.sha256(grid.round(9).to_csv().encode()).hexdigest())
        bad |= self._agree("truth_metrics", hashlib.sha256(tm.round(9).to_csv().encode()).hexdigest())
        if not full:  # the full check is the warm-up's: cold latencies are left out
            for ms, hit in res["lat"]:
                self.query_ms["hit" if hit else "miss"].append(ms)
            for k, v in self.query_ms.items():
                if v:
                    self.counts[f"collection.query.{k}_ms"] = statistics.median(v)
        wrong = 0
        for (op, t, rid), got in zip(self.stream, res["answers"]):
            labels = self._labels(t)
            want = oracle.entity_count(labels) if op == "count" else int(labels[rid])
            wrong += got != want
        if full:
            ef = res["ef"]
            recs = ef.records.select("record_id", "key").toPandas()
            bad |= len(recs) != self.N_RECORDS or any(
                gen.record_key(i) != k for i, k in zip(recs["record_id"], recs["key"])
            )
            bad |= len(grid) != 100 * 100 or len(tm) != 100
            truth = self.data["truth"]
            lb = {}
            for t in _CHECK_T:
                la = self._labels(t)
                part = ef["a"].at(t).toPandas().sort_values("record_id")
                bad |= not np.array_equal(part["cluster_id"].to_numpy(), la)
                want = oracle.pair_metrics(la, truth)
                row = tm[np.isclose(tm["a_threshold"], t)].iloc[0]
                bad |= any(abs(row[m] - want[m]) > 1e-6 for m in want)
                keep = self.data["w_b"] >= threshold_to_fp(t)
                lb[t] = oracle.components(self.N_RECORDS, self.data["src"][keep], self.data["dst"][keep])
            for ta, tb in ((0.3, 0.5), (0.5, 0.5), (0.7, 0.3)):
                want = oracle.pair_metrics(self._labels(ta), lb[tb])
                row = grid[np.isclose(grid["a_threshold"], ta) & np.isclose(grid["b_threshold"], tb)].iloc[0]
                bad |= any(abs(row[m] - want[m]) > 1e-6 for m in want)
            self.quality = float(tm[np.isclose(tm["a_threshold"], 0.5)]["f1"].iloc[0])
            self.counts["hierarchy.merge_events"] = (
                ef["a"].merge_edges.count() + ef["b"].merge_edges.count()
            )
            self._last = res
        self.spark.catalog.clearCache()
        return 1 + len(self.stream), bad + wrong

    def kernel_inputs(self) -> dict:
        d = self.data
        keys = [gen.record_key(i) for i in range(self.N_RECORDS)]
        rng = np.random.default_rng(self.seed)
        sel = rng.integers(0, len(d["src"]), 20_000)
        return {
            "left": [keys[i] for i in d["src"][sel]],
            "right": [keys[i] for i in d["dst"][sel]],
            "docs": keys,
            "src": d["src"],
            "dst": d["dst"],
            "wfp": d["w_a"],
            "n_nodes": self.N_RECORDS,
        }


WORKLOADS = {w.name: w for w in (Linkage, Dedup, Evaluate)}
