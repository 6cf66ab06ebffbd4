"""TableIO seam: Parquet fallback paths (Iceberg jar absent in sandbox —
the seam is exercised in its fallback mode, the catalog mode activates
automatically when org.apache.iceberg.spark.SparkCatalog is on the
classpath)."""

from pystreamfs_spark.sources.tableio import TableIO, read_table
from pystreamfs_spark.sources.transcripts import synthesize_transcripts


def test_write_read_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert io.iceberg is False  # sandbox: no runtime jar → parquet mode
    t = synthesize_transcripts(spark, n_convs=5, seed=2)
    io.write(t, "transcripts")
    back = io.read("transcripts")
    assert back.count() == t.count()
    assert set(back.columns) == set(t.columns)


def test_epoch_commits_are_idempotent(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    t = synthesize_transcripts(spark, n_convs=4, seed=2)
    io.commit_epoch(t.where("conv_id < 'conv000002'"), "tbl", epoch=0)
    io.commit_epoch(t.where("conv_id >= 'conv000002'"), "tbl", epoch=1)
    n1 = io.read_epochs("tbl").count()
    # re-commit epoch 1 (as a resume retry would): overwrite, not append
    io.commit_epoch(t.where("conv_id >= 'conv000002'"), "tbl", epoch=1)
    n2 = io.read_epochs("tbl").count()
    assert n1 == n2 == t.count()
    eps = {r.epoch for r in io.read_epochs("tbl").select("epoch").distinct().collect()}
    assert eps == {0, 1}


def test_read_table_path_vs_catalog(spark, sf_dir):
    df = read_table(spark, f"{sf_dir}/events.parquet")
    assert df.count() > 0


def test_iceberg_hidden_partitioning_and_snapshots(spark, tmp_path):
    """Exercised the day an Iceberg runtime jar appears on the classpath
    (sources/tableio.py:_iceberg_available probes for it); until then this
    is SKIPPED, not absent. Covers: catalog registration, hidden
    partitioning (days(ts) + bucket(conv_id)), snapshot-per-commit, and
    read-back through the same seam."""
    import pytest

    from pystreamfs_spark.sources.tableio import _iceberg_available

    if not _iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar on the classpath")

    spark.conf.set("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ice.warehouse", str(tmp_path / "warehouse"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ice.db")
    spark.sql(
        "CREATE TABLE ice.db.turns (conv_id STRING, turn_idx BIGINT, ts TIMESTAMP, label DOUBLE) "
        "USING iceberg PARTITIONED BY (days(ts), bucket(8, conv_id))"
    )
    try:
        t = synthesize_transcripts(spark, n_convs=6, seed=2).select(
            "conv_id", "turn_idx", "ts", "label"
        )
        t.writeTo("ice.db.turns").append()
        t.writeTo("ice.db.turns").append()
        snaps = spark.sql("SELECT * FROM ice.db.turns.snapshots").count()
        assert snaps == 2
        assert spark.table("ice.db.turns").count() == 2 * t.count()
        # hidden partition pruning: a day filter must not need a partition col
        one_day = spark.table("ice.db.turns").where("ts < timestamp'2024-01-02 00:00:00'")
        assert one_day.count() <= 2 * t.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS ice.db.turns")


def test_bucketed_sorted_table_fold_is_shuffle_free_and_exact(spark, tmp_path):
    """The README/fold contract claim, proven against a real catalog table:
    a table bucketed by conv_id and sorted by (conv_id, turn_idx, ts)
    satisfies assume_partitioned — the fold plan has ZERO exchanges and the
    weights are bit-identical to the default (repartitioning) fold. (Single writer task →
    one file per bucket, so within-bucket sort order survives the read —
    the standard Spark bucketing deployment caveat.)"""
    from pystreamfs_spark.fold import fold_weights
    from pystreamfs_spark.functions.features import featurize_turns
    from pystreamfs_spark.plans import count_exchanges, explain_str

    f = featurize_turns(synthesize_transcripts(spark, n_convs=40, seed=9)).select(
        "conv_id", "turn_idx", "ts", "features", "label"
    )
    spark.sql("DROP TABLE IF EXISTS bucketed_turns")
    (
        f.repartition(1)
        .write.format("parquet")
        .bucketBy(4, "conv_id")
        .sortBy("conv_id", "turn_idx", "ts")
        .option("path", str(tmp_path / "bucketed_turns"))
        .saveAsTable("bucketed_turns")
    )
    try:
        bt = spark.table("bucketed_turns")
        folded = fold_weights(bt, kernel="ofs", batch_size=10, assume_partitioned=True)
        assert count_exchanges(folded) == 0, explain_str(folded)[:3000]
        got = {
            (r.conv_id, r.window_id): (list(r.w), list(r.selected)) for r in folded.collect()
        }
        want = {
            (r.conv_id, r.window_id): (list(r.w), list(r.selected))
            for r in fold_weights(f, kernel="ofs", batch_size=10).collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_turns")
