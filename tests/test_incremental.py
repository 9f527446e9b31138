"""Incremental link + match: end-to-end over the datagen 4/5 - 1/5 split
(mirrors /root/reference/01_Prepare_Data.py:117-129)."""

import os

import pytest
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig
from customer_er_spark.plans.incremental import run_incremental_match, run_link
from customer_er_spark.plans.pipeline import recall_vs_truth, run_initial

CFG = ERConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def incremental_run(spark, small_corpus, tmp_path_factory):
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path_factory.mktemp("inc_cat")))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)
    link_summary = run_link(spark, incoming, catalog, CFG)
    match_summary = run_incremental_match(spark, incoming, catalog, CFG)
    return catalog, link_summary, match_summary


def test_linked_output_shape(incremental_run):
    catalog, link_summary, _ = incremental_run
    linked = catalog.read_table("linked")
    assert set(linked.columns) == {"image_id", "z_cluster", "z_score", "z_source"}
    assert set(
        r["z_source"] for r in linked.select("z_source").distinct().collect()
    ) <= {"priors", "incoming"}
    # a prior's z_score is the max over its incoming matches: no incoming
    # edge in the same link group may exceed the prior row's score
    pri = linked.where("z_source = 'priors'").groupBy("z_cluster").agg(
        F.max("z_score").alias("pmax")
    )
    inc = linked.where("z_source = 'incoming'").groupBy("z_cluster").agg(
        F.max("z_score").alias("imax")
    )
    bad = pri.join(inc, "z_cluster").where("imax > pmax").count()
    assert bad == 0


def test_decisions_partition_incoming(incremental_run):
    catalog, link_summary, _ = incremental_run
    d = catalog.read_table("link_decisions")
    assert d.groupBy("image_id").count().where("count > 1").count() == 0
    vals = {r["decision"] for r in d.select("decision").distinct().collect()}
    assert vals <= {"accept", "review", "reject"}


def test_full_recall_after_incremental(spark, small_corpus, incremental_run):
    catalog, _, match_summary = incremental_run
    truth = spark.read.parquet(f"{small_corpus['dir']}/truth_pairs.parquet")
    members = catalog.read_table("cluster_members")
    # every record (initial + incoming) present exactly once
    assert members.count() == small_corpus["rows"]
    m = recall_vs_truth(spark, members, truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.95, m


def test_registry_ids_stable_across_increment(spark, small_corpus, incremental_run):
    catalog, _, _ = incremental_run
    # clusters that existed after the initial run keep their ids: every
    # initial-era member still maps to its old cluster id
    initial_ids = {
        r["image_id"]
        for r in spark.read.parquet(
            f"{small_corpus['dir']}/images_initial.parquet"
        ).select("image_id").collect()
    }
    members = catalog.read_table("cluster_members")
    # initial-era cluster ids are always initial-era image ids (min of the
    # original component); incoming can only join them, not rename them
    moved = members.where(
        F.col("image_id").isin(list(initial_ids))
        & ~F.col("cluster_id").isin(list(initial_ids))
    ).count()
    assert moved == 0


def test_second_increment_does_not_reband_priors(
    spark, small_corpus, tmp_path, monkeypatch
):
    """The banded-once contract (priors_bands): after the initial run, no
    increment may ever band the registry again — band_keys runs only on
    incoming-sized inputs, and the registry band table grows by appends."""
    from pyspark.sql import functions as F

    import customer_er_spark.plans.incremental as inc_mod
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path / "pb_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    half1 = incoming.where(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 0)
    half2 = incoming.where(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 1)
    n_half2 = half2.count()
    assert n_half2 > 0

    run_initial(spark, initial, catalog, CFG)
    run_link(spark, half1, catalog, CFG, run_key="h1")
    run_incremental_match(spark, half1, catalog, CFG)
    paths_before = len(catalog.table_meta("priors_bands")["paths"])

    # spy: every band_keys call inside the incremental plan records the
    # row count of the input it was asked to band
    banded_sizes = []
    orig = inc_mod.band_keys

    def spy(df, cfg):
        banded_sizes.append(df.count())
        return orig(df, cfg)

    monkeypatch.setattr(inc_mod, "band_keys", spy)
    run_link(spark, half2, catalog, CFG, run_key="h2")
    run_incremental_match(spark, half2, catalog, CFG)

    # the registry (initial + half1) was NEVER re-banded: every banding
    # input was incoming-sized
    assert banded_sizes, "band_keys never called for the increment"
    assert all(n <= n_half2 for n in banded_sizes), banded_sizes

    # priors_bands grew append-only (one new data dir per merge), with the
    # full per-record band fan-out for the new records only
    meta = catalog.table_meta("priors_bands")
    assert len(meta["paths"]) == paths_before + 1
    from itertools import combinations

    keys_per_record = CFG.bands + len(
        list(combinations(range(CFG.phash_chunks), CFG.phash_clean_chunks))
    )
    assert meta["counts"]["rows_out"] == small_corpus["rows"] * keys_per_record

    # and the result is still exact
    truth = spark.read.parquet(f"{small_corpus['dir']}/truth_pairs.parquet")
    m = recall_vs_truth(spark, catalog.read_table("cluster_members"), truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.95, m


def test_pruned_registry_scan(spark, small_corpus, tmp_path):
    """Manifest-level file pruning of the link's registry scan (r5 verdict
    #1): the committed priors_bands is bucket-partitioned with per-file
    band_key blooms, and a micro-increment reads only the files it can
    band-collide with — while a true-duplicate increment still finds and
    accepts every link (pruning is lossless)."""
    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.datagen import write_corpus

    catalog = SparkCatalog(spark, str(tmp_path / "prune_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)

    # layout contract: bucket partition dirs (one file per bucket), per-
    # ROW-GROUP key ranges in the manifest (data is key-sorted so ranges
    # are narrow and disjoint-ish), blooms in the snapshot's sidecar
    # (r6 advice: manifests stay small; blooms live next to the data)
    pb = catalog.table_meta("priors_bands")
    assert all("file" in e and "bytes" in e for e in pb["data_files"])
    assert all("band_bucket=" in e["file"] for e in pb["data_files"])
    assert any(e.get("bloom_sidecar") for e in pb["data_files"])
    assert any("kmin" in e and "kmax" in e for e in pb["data_files"])
    assert all(not os.path.isabs(e["file"]) for e in pb["data_files"])
    ex = next(e for e in pb["data_files"] if e.get("bloom_sidecar"))
    assert len(ex["row_groups"]) > 1  # granules, not one blob per bucket
    assert all(
        g["kmin"] <= g["kmax"] and g["rows"] > 0 and g["bytes"] > 0
        for g in ex["row_groups"]
    )
    assert catalog.file_bloom(ex, rg=0) is not None

    # grow the registry by one merge so append files exist too
    run_link(spark, incoming, catalog, CFG, run_key="grow")
    run_incremental_match(spark, incoming, catalog, CFG)

    # leg 1: a DISJOINT micro-increment (fresh generator universe) —
    # almost nothing in the registry shares a band with it, so the scan
    # must skip most files (survivors = rare true chunk collisions +
    # bloom false positives)
    write_corpus(str(tmp_path / "fresh"), n_base=5, dup_fraction=0.0,
                 seed=31337)
    micro = spark.read.parquet(
        str(tmp_path / "fresh" / "images.parquet")
    ).withColumn("image_id", F.concat(F.lit("new_"), F.col("image_id")))
    s = run_link(spark, micro, catalog, CFG, run_key="micro")
    scan = s["registry_scan"]
    assert scan is not None and scan["bloom_pruning"] is True
    assert scan["mode"] == "pruned", scan
    assert scan["files_read"] < scan["files_total"] // 4, scan
    assert scan["bytes_read"] < scan["bytes_total"], scan

    # leg 2: true duplicates of registry records — identical phash, so
    # every one must still link and accept despite the pruned scan
    dups = initial.limit(3).withColumn(
        "image_id", F.concat(F.lit("dup_"), F.col("image_id"))
    )
    s2 = run_link(spark, dups, catalog, CFG, run_key="dups")
    assert s2["decisions"].get("accept", 0) == 3, s2
    assert s2["registry_scan"]["files_read"] >= 1

    # leg 3: a MOVED catalog (r6 advice: manifests record paths relative
    # to the base dir) — reads AND the pruned scan keep working from the
    # new location
    import shutil

    from customer_er_spark.catalog import SparkCatalog as SC

    moved_dir = str(tmp_path / "prune_cat_moved")
    shutil.copytree(str(tmp_path / "prune_cat"), moved_dir)
    shutil.rmtree(str(tmp_path / "prune_cat"))
    moved = SC(spark, moved_dir)
    assert moved.read_table("cluster_members").count() > 0
    micro2 = micro.withColumn(
        "image_id", F.concat(F.lit("m2_"), F.col("image_id"))
    )
    s3 = run_link(spark, micro2, moved, CFG, run_key="moved")
    scan3 = s3["registry_scan"]
    assert scan3["mode"] == "pruned", scan3
    assert scan3["files_read"] < scan3["files_total"] // 4, scan3


def test_scan_mode_and_keyed_state(spark, small_corpus, tmp_path):
    """r6 advice/verdict #4: the registry-scan record (a) carries an
    explicit mode instead of conflating legacy manifests with delegated
    backends, and (b) is keyed by the link run, so a resumed run reports
    ITS OWN scan, not whichever link executed last."""
    import json

    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path / "mode_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)

    s = run_link(spark, incoming, catalog, CFG, run_key="a")
    assert s["registry_scan"]["mode"] == "pruned"

    # resumed replay must read run "a"'s slot even after another slot
    # was written later (the old unkeyed slot would have been clobbered)
    catalog.set_state("link_registry_scan::other", {"mode": "junk"})
    s2 = run_link(spark, incoming, catalog, CFG, run_key="a")
    assert s2["resumed"] is True
    assert s2["registry_scan"] == s["registry_scan"]

    # legacy manifest (pre-upgrade, no per-file entries) -> explicit
    # legacy-full-scan mode, full scan still correct
    mp = catalog._manifest_path("priors_bands")
    with open(mp) as f:
        meta = json.load(f)
    meta.pop("data_files", None)
    with open(mp, "w") as f:
        json.dump(meta, f)
    s3 = run_link(spark, incoming, catalog, CFG, run_key="b")
    assert s3["registry_scan"] == {"mode": "legacy-full-scan"}, s3


def test_link_schema_rollforward(spark, small_corpus, tmp_path):
    """r6 advice (medium): link_candidates gained a 'hamming' column; a
    catalog written by the previous engine version must roll forward (the
    link tables are pipeline-owned), not raise the schema contract."""
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path / "roll_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)
    # simulate the previous version's narrower link_candidates schema
    old = spark.createDataFrame(
        [("x", "y")], "id_l string, id_r string"
    )
    catalog.write_table(old, "link_candidates", config_hash="old")
    s = run_link(spark, incoming, catalog, CFG, run_key="roll")
    assert set(catalog.read_table("link_candidates").columns) == {
        "id_l", "id_r", "hamming"
    }
    assert s["candidates"] > 0


def test_link_pairs_with_salted_bands(spark, small_corpus, tmp_path):
    """The link through the salted kernel: at max_band_size 1 and 2 the
    touched bands are salted, and the bipartite expansion must still emit
    only (prior, incoming) pairs, each once, with the Hamming the gate
    checked, record every degraded band, and find every planted
    incoming-to-prior duplicate."""
    from dataclasses import replace

    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.operators.candidates import band_keys
    from customer_er_spark.operators.signatures import compute_signatures
    from customer_er_spark.plans.incremental import link_pairs

    catalog = SparkCatalog(spark, str(tmp_path / "salted_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)
    prior_sig = catalog.read_table("signatures")
    inc_sig = compute_signatures(incoming, CFG).cache()
    priors_bands = catalog.read_table("priors_bands").select(
        "band_key", "image_id", "phash"
    )
    prior_ids = {r[0] for r in prior_sig.select("image_id").collect()}
    inc_ids = {r[0] for r in inc_sig.select("image_id").collect()}
    truth = {
        (l, r) if l in prior_ids else (r, l)
        for l, r in spark.read.parquet(
            f"{small_corpus['dir']}/truth_pairs.parquet"
        ).select("id_l", "id_r").collect()
        if (l in prior_ids and r in inc_ids) or (r in prior_ids and l in inc_ids)
    }
    assert truth

    # touched-band sizes, counted independently of the kernel
    inc_bands = band_keys(inc_sig, CFG).select("band_key", "image_id")
    touched = inc_bands.select("band_key").distinct()
    sizes = {
        r["band_key"]: r["n"]
        for r in priors_bands.select("band_key", "image_id")
        .join(touched, "band_key")
        .unionByName(inc_bands)
        .groupBy("band_key").agg(F.count("*").alias("n"))
        .collect()
    }
    phash = {
        **dict(prior_sig.select("image_id", "phash").collect()),
        **dict(inc_sig.select("image_id", "phash").collect()),
    }
    for mbs in (1, 2):
        cfg = replace(CFG, max_band_size=mbs)
        pairs, band_stats = link_pairs(priors_bands, inc_sig, cfg)
        rows = pairs.collect()
        assert set(pairs.columns) == {"id_l", "id_r", "hamming"}
        got = [(r["id_l"], r["id_r"]) for r in rows]
        assert len(got) == len(set(got)), mbs  # no pair repeats
        assert all(l in prior_ids and r in inc_ids for l, r in got), mbs
        for r in rows:
            h = bin((phash[r["id_l"]] ^ phash[r["id_r"]]) & (2**64 - 1))
            assert r["hamming"] == h.count("1") <= cfg.phash_hamming_max
        degraded = {
            r["band_key"]
            for r in band_stats.where("degraded").select("band_key").collect()
        }
        assert degraded == {k for k, n in sizes.items() if n > mbs}, mbs
        assert truth <= set(got), (mbs, truth - set(got))
    inc_sig.unpersist()


def test_link_rebands_on_lineage_divergence(spark, small_corpus, tmp_path):
    """r5 advice: a crash between the signatures append and the
    priors_bands append of a never-replayed batch leaves registry records
    invisible to link candidate generation.  run_link cross-checks
    rows(priors_bands) == bands_per_record * rows(signatures) and
    re-bands the registry once when they diverge."""
    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.operators.candidates import bands_per_record

    catalog = SparkCatalog(spark, str(tmp_path / "div_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)

    # simulate the crash window: signatures gains rows (as the merge's
    # signatures append would) but priors_bands does not
    extra = catalog.read_table("signatures").limit(5).withColumn(
        "image_id", F.concat(F.lit("lost_"), F.col("image_id"))
    )
    catalog.append_table(extra, "signatures", config_hash=CFG.config_hash())
    n_sig = catalog.table_meta("signatures")["counts"]["rows_out"]
    assert catalog.table_meta("priors_bands")["counts"]["rows_out"] != (
        bands_per_record(CFG) * n_sig
    )

    run_link(spark, incoming, catalog, CFG, run_key="heal")
    # the re-band healed the divergence: every signature row (including
    # the "lost" ones) is banded again — visibility to candidate
    # generation follows because the re-band runs band_keys over the
    # FULL current signatures table
    pb = catalog.table_meta("priors_bands")
    assert pb["counts"]["rows_out"] == bands_per_record(CFG) * n_sig
    # healed layout keeps the pruning contract (buckets + blooms)
    assert all("band_bucket=" in e["file"] for e in pb["data_files"])


def test_link_review_artifact(spark, small_corpus, incremental_run):
    """The review table mirrors the review-decision subset with both-side
    captions (the reference's human-in-the-loop artifact, 03:283-288).
    NOTE: the forced-review leg below re-runs run_link with a stricter
    config on the SHARED incremental_run catalog — keep this test LAST in
    the file (it overwrites the link_* tables and priors_bands)."""
    catalog, _, _ = incremental_run
    lr = catalog.read_table("link_review")
    expect_cols = {
        "incoming_id", "prior_id", "cluster_id", "score", "hamming",
        "caption_incoming", "caption_prior", "best_score", "second_score",
    }
    assert set(lr.columns) == expect_cols
    n_review = (
        catalog.read_table("link_decisions").where("decision = 'review'").count()
    )
    assert lr.select("incoming_id").distinct().count() == n_review

    # force reviews: accept impossible (threshold > 1), everything at/above
    # review 0.0 -> every linked incoming becomes a review row with its
    # full candidate-edge context
    cfg_rev = ERConfig(
        shuffle_partitions=8, match_threshold=1.01, review_threshold=0.0
    )
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_link(spark, incoming, catalog, cfg_rev, run_key="force-review")
    dec = catalog.read_table("link_decisions")
    assert dec.where("decision = 'accept'").count() == 0
    n_rev = dec.where("decision = 'review'").count()
    assert n_rev > 0
    lr2 = catalog.read_table("link_review")
    assert lr2.select("incoming_id").distinct().count() == n_rev
    # both-side captions always present for the reviewer
    assert lr2.where(
        "caption_prior IS NULL OR caption_incoming IS NULL"
    ).count() == 0
    # scores are consistent with the decisions they mirror
    bad = (
        lr2.groupBy("incoming_id")
        .agg(F.max("score").alias("edge_max"), F.first("best_score").alias("b"))
        .where("edge_max != b")
        .count()
    )
    assert bad == 0
