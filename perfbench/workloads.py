"""The benchmark's workloads and their output checks.

Each workload is a closed loop with one caller: `round()` runs the next
operation(s) only after the previous one returned and its output was
checked.  A round returns one `Op` per operation; an operation fails when
it raises or when its output check fails.

The engine is called through module attributes (`pipeline.run_initial`,
...), so a traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import inputs
import proc


@dataclass
class Op:
    name: str
    seconds: float  # wall
    cpu_s: float  # CPU seconds of the whole process tree
    ok: bool
    records: int
    extra: dict = field(default_factory=dict)


def timed_op(tracer, name: str, records: int, run, check, **extra) -> Op:
    """Time run() inside the operation's span, then check its output
    outside the timed region.  An exception or a failed check fails the
    operation; the loop goes on."""
    dt = cpu = None
    c0, t0 = proc.tree_cpu_s(), time.perf_counter()
    try:
        with tracer.span(name):
            out = run()
        dt, cpu = time.perf_counter() - t0, proc.tree_cpu_s() - c0
        ok = bool(check(out, extra))
    except Exception:  # the run must keep going: record and count it
        ok = False
        extra["error"] = traceback.format_exc()[-3000:]
    if dt is None:
        dt, cpu = time.perf_counter() - t0, proc.tree_cpu_s() - c0
    return Op(name, dt, cpu, ok, records, extra)


# --- output checks (pure: the self-test feeds them corrupted outputs) -----

def check_recall(rp: dict) -> bool:
    """Clustering against the planted truth: recall and precision 1.0."""
    return rp["truth_pairs"] > 0 and rp["recall"] == 1.0 and rp["precision"] == 1.0


def check_increment(link: dict, merged: dict, n_incoming: int, rp: dict) -> bool:
    """A fresh (not replayed) link, every incoming record merged, and the
    whole corpus, less records held for review, clustered with recall and
    precision 1.0."""
    return (not link["resumed"] and merged["incoming"] == n_incoming
            and check_recall(rp))


def check_groups(clusters: dict, groups: dict) -> bool:
    """clusters: doc_id -> cluster_id; groups: doc_id -> planted group.

    Every planted group of two or more documents (the flood included) lies
    in one cluster, and no cluster mixes two groups (so no pair crosses
    groups)."""
    members: dict[int, list[int]] = {}
    for doc, g in groups.items():
        members.setdefault(g, []).append(doc)
    for docs in members.values():
        if len(docs) > 1 and len({clusters.get(d) for d in docs}) != 1:
            return False
        if len(docs) > 1 and clusters.get(docs[0]) is None:
            return False
    seen: dict = {}
    for doc, cid in clusters.items():
        if doc not in groups or seen.setdefault(cid, groups[doc]) != groups[doc]:
            return False
    return True


def check_topk(rows: list[tuple[int, int, int]], k: int, n_vectors: int,
               twins: list[tuple[int, int]]) -> bool:
    """rows: (query_id, neighbor_id, rank).  Exactly ranks 1..k for every
    vector, and each planted twin finds its original and vice versa."""
    ranks: dict[int, list[int]] = {}
    nbrs: dict[int, set[int]] = {}
    for q, n, r in rows:
        ranks.setdefault(q, []).append(r)
        nbrs.setdefault(q, set()).add(n)
    if len(ranks) != n_vectors:
        return False
    if any(sorted(r) != list(range(1, k + 1)) for r in ranks.values()):
        return False
    return all(b in nbrs.get(a, ()) and a in nbrs.get(b, ()) for a, b in twins)


SIMHASH_HAMMING = 6


def check_simhash(digest: tuple[int, int], hmax, first: tuple[int, int]) -> bool:
    """Pairs exist, none is farther than the Hamming gate, and the pair set
    is the one the first round of this run produced."""
    return digest[0] > 0 and hmax <= SIMHASH_HAMMING and digest == first


def pair_digest(df) -> tuple[int, int]:
    """(rows, order-independent 64-bit digest) of a pair set — one job."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.expr("coalesce(bit_xor(xxhash64(id_l, id_r)), 0)").alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


# --- workloads --------------------------------------------------------------

# input sizes: "full" for measured runs, "tiny" for the self-test
SIZES = {
    "dedup_ingest": {
        "full": {"n_base": 400},
        "tiny": {"n_base": 40},
    },
    "near_dup_library": {
        "full": {"n_background": 6000, "n_groups": 300, "group_size": 4,
                 "flood": 300, "n_vectors": 5000, "n_clusters": 20,
                 "n_twins": 50},
        "tiny": {"n_background": 200, "n_groups": 10, "group_size": 3,
                 "flood": 300, "n_vectors": 300, "n_clusters": 4,
                 "n_twins": 10},
    },
}


class Workload:
    """Shared plumbing; subclasses define prepare() and round()."""

    def __init__(self, spark, cfg, work: str, seed: int, size: dict, tracer):
        self.spark, self.cfg, self.work, self.seed = spark, cfg, work, seed
        self.size, self.tracer = size, tracer
        self.context: dict = {}


class DedupIngest(Workload):
    """Both phases of the engine, one of each per round: run_initial over
    a seeded 80% of a corpus into a fresh catalog, then the other 20% as
    one increment (run_link, then run_incremental_match)."""

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        d = os.path.join(self.work, "corpus")
        self.corpus = inputs.image_corpus(d, self.size["n_base"], self.seed)
        self.paths = {k: os.path.join(d, f"{k}.parquet")
                      for k in ("images_initial", "images_incremental")}
        self.initial = self.spark.read.parquet(self.paths["images_initial"])
        self.tracer.wrap_method(self.initial, "count", "input_count")
        self.truth = self.spark.read.parquet(os.path.join(d, "truth_pairs.parquet"))
        # truth pairs with both ends in the initial slice
        ids = self.initial.select(F.col("image_id"))
        self.truth_initial = (
            self.truth.join(ids.withColumnRenamed("image_id", "id_l"), "id_l", "left_semi")
            .join(ids.withColumnRenamed("image_id", "id_r"), "id_r", "left_semi"))
        self.n = 0

    def round(self) -> list[Op]:
        from customer_er_spark.catalog import SparkCatalog

        cat_dir = os.path.join(self.work, f"cat_{self.n}")
        self.n += 1
        catalog = SparkCatalog(self.spark, cat_dir)
        ops = [self._initial(catalog)]
        if ops[0].ok:
            ops.append(self._increment(catalog))
        shutil.rmtree(cat_dir, ignore_errors=True)
        return ops

    def _initial(self, catalog) -> Op:
        from customer_er_spark.plans import pipeline

        def run():
            pipeline.run_initial(self.spark, self.initial, catalog, self.cfg)

        def check(_, extra: dict) -> bool:
            rp = pipeline.recall_vs_truth(
                self.spark, catalog.read_table("cluster_members"), self.truth_initial)
            extra["recall"] = rp
            if self.tracer.enabled:
                extra.update(catalog_layout(catalog))
            return check_recall(rp)

        return timed_op(self.tracer, "initial", self.corpus["initial"], run, check,
                        input_bytes=os.path.getsize(self.paths["images_initial"]))

    def _increment(self, catalog) -> Op:
        from customer_er_spark.plans import incremental, pipeline

        path = self.paths["images_incremental"]

        def run():
            batch = self.spark.read.parquet(path)
            link = incremental.run_link(
                self.spark, batch, catalog, self.cfg, run_key=f"r{self.n}")
            return link, incremental.run_incremental_match(
                self.spark, batch, catalog, self.cfg)

        def check(out, extra: dict) -> bool:
            from pyspark.sql import functions as F

            link, merged = out
            # a record whose best link scores in the review band is held for
            # a person, by design, and joins no registry cluster: its truth
            # pairs are left out, and every other pair of the whole corpus
            # must be found
            held = [r["image_id"] for r in catalog.read_table("link_decisions")
                    .where("decision = 'review'").select("image_id").collect()]
            members = catalog.read_table("cluster_members").where(
                ~F.col("image_id").isin(held))
            truth = self.truth.where(
                ~F.col("id_l").isin(held) & ~F.col("id_r").isin(held))
            rp = pipeline.recall_vs_truth(self.spark, members, truth)
            extra.update(link_candidates=link["candidates"], review_held=len(held),
                         scan=link.get("registry_scan") or {}, recall=rp)
            return check_increment(link, merged, self.corpus["incremental"], rp)

        return timed_op(self.tracer, "increment", self.corpus["incremental"], run,
                        check, input_bytes=os.path.getsize(path))


class NearDupLibrary(Workload):
    """The operator library without a catalog, one call of each per round:
    minhash LSH pairs then dedup clusters, simhash pairs, and LSH top-k."""

    K = 5

    def prepare(self) -> None:
        s = self.size
        docs_path = os.path.join(self.work, "documents.parquet")
        emb_path = os.path.join(self.work, "embeddings.parquet")
        self.groups = inputs.documents(
            docs_path, self.seed, s["n_background"], s["n_groups"],
            s["group_size"], s["flood"])
        self.twins = inputs.embeddings(
            emb_path, self.seed, s["n_vectors"], s["n_clusters"], s["n_twins"])
        self.docs = self.spark.read.parquet(docs_path)
        self.emb = self.spark.read.parquet(emb_path)
        self.first_digest: dict[str, tuple[int, int]] = {}

    def round(self) -> list[Op]:
        n_docs, n_vec = len(self.groups), self.size["n_vectors"]
        return [
            timed_op(self.tracer, "minhash_dedup", n_docs, self._minhash,
                     self._check_minhash),
            timed_op(self.tracer, "simhash", n_docs, self._simhash, self._check_simhash),
            timed_op(self.tracer, "topk", n_vec, self._topk, self._check_topk),
        ]

    def _digest(self, key: str, digest: tuple[int, int]) -> tuple[int, int]:
        """Record a pair-set digest; return the first one seen this run."""
        self.context[f"{key}_digest"] = f"{digest[0]}:{digest[1] & (2**64 - 1):016x}"
        return self.first_digest.setdefault(key, digest)

    def _minhash(self):
        from customer_er_spark.operators import dedup

        pairs = dedup.minhash_lsh_pairs(self.docs, self.cfg, jaccard_min=0.5)
        clusters = dedup.dedup_clusters(pairs)
        with self.tracer.span("minhash_dedup:collect"):
            return pairs, clusters.toArrow()

    def _check_minhash(self, out, extra) -> bool:
        pairs, table = out
        digest = pair_digest(pairs)  # outside the timed region
        extra["pairs"] = digest[0]
        clusters = dict(zip(table.column("doc_id").to_pylist(),
                            table.column("cluster_id").to_pylist()))
        return (check_groups({int(k): v for k, v in clusters.items()}, self.groups)
                and digest == self._digest("minhash", digest))

    def _simhash(self):
        from pyspark.sql import functions as F

        from customer_er_spark.operators import dedup

        pairs = dedup.simhash_pairs(
            self.docs, hamming_max=SIMHASH_HAMMING,
            shuffle_partitions=self.cfg.shuffle_partitions)
        with self.tracer.span("simhash:collect"):
            return pairs.agg(
                F.count("*").alias("n"),
                F.expr("coalesce(bit_xor(xxhash64(id_l, id_r)), 0)").alias("h"),
                F.max("hamming").alias("hmax"),
            ).first()

    def _check_simhash(self, row, extra) -> bool:
        digest = (int(row["n"]), int(row["h"]))
        extra["pairs"] = digest[0]
        return check_simhash(digest, row["hmax"], self._digest("simhash", digest))

    def _topk(self):
        from customer_er_spark.operators import similarity

        out = similarity.lsh_topk(self.emb, k=self.K, dim=64,
                                  shuffle_partitions=self.cfg.shuffle_partitions)
        with self.tracer.span("topk:collect"):
            return out.select("query_id", "neighbor_id", "rank").toArrow()

    def _check_topk(self, table, extra) -> bool:
        rows = list(zip(*(table.column(c).to_pylist()
                          for c in ("query_id", "neighbor_id", "rank"))))
        return check_topk(rows, self.K, self.size["n_vectors"], self.twins)


def catalog_layout(catalog) -> dict:
    """Traced runs only, outside the timed region: layout and counts of
    the committed tables that the per-layer table reports."""
    out: dict = {}
    pb = catalog.table_meta("priors_bands")
    if pb:
        files = pb.get("data_files") or []
        out["priors_bands"] = {
            "files": len(files),
            "row_groups": sum(len(f.get("row_groups") or [1]) for f in files),
            "bytes": sum(int(f.get("bytes", 0)) for f in files),
        }
    cand = catalog.table_meta("candidate_pairs")
    ver = catalog.table_meta("verified_pairs")
    if cand and ver:
        out["candidates"] = cand["counts"]["rows_out"]
        out["matches"] = catalog.read_table("verified_pairs").where("is_match").count()
    if catalog.table_meta("band_stats"):
        out["degraded_bands"] = catalog.read_table("band_stats").where("degraded").count()
    return out


WORKLOADS = {
    "dedup_ingest": DedupIngest,
    "near_dup_library": NearDupLibrary,
}
