"""Z-order clustered star write (plans/star.write_star_zorder):
content parity with the lexicographic write, plus the measurable
layout claim — per-file min/max spans on the SECOND cluster key are
materially tighter under Morton interleaving, which is what makes
row-group pruning work on either key."""

from __future__ import annotations

import pytest

import glob

from pyspark.sql import functions as F

from healthcare_oltp_to_olap_gcp_spark.functions.keys import (
    hash_bits,
    surrogate_key,
    zorder_key,
)
from healthcare_oltp_to_olap_gcp_spark.plans.star import (
    write_star,
    write_star_zorder,
)

from .helpers import normalize, session_confs


def _synthetic_star(spark, n_users=100, n_types=200, n_days=1):
    """A full (user, type) grid spread over ``n_days`` date partitions —
    enough rows per partition that the within-partition sort order
    decides file layout. Multiple days per write task exercise the
    (date_key, _z) leading-column sort: with a _z-only sort the
    writer's re-inserted date_key sort would have to be stable to keep
    the clustering (ADVICE r3)."""
    return (
        spark.range(n_users * n_types)
        .select(
            (F.col("id") % n_users).alias("uid"),
            (F.col("id") / n_users).cast("long").alias("tid"),
        )
        .select(
            surrogate_key(F.col("uid").cast("string")).alias("user_key"),
            surrogate_key(F.col("tid").cast("string")).alias("event_type_key"),
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                ((F.col("uid") + F.col("tid")) % n_days).cast("int"),
            ).alias("date_key"),
            (F.col("uid") * 1000 + F.col("tid")).alias("event_id"),
        )
    )


def _per_file_spans(spark, path, key):
    spans = []
    for f in glob.glob(path + "/date_key=*/*.parquet"):
        mm = (
            spark.read.parquet(f)
            .agg(F.min(hash_bits(key)), F.max(hash_bits(key)))
            .collect()[0]
        )
        spans.append(mm[1] - mm[0])
    return spans


@pytest.mark.fullsweep
def test_zorder_write_tightens_second_key_spans(spark, tmp_path):
    star = _synthetic_star(spark)
    lex_path = str(tmp_path / "lex")
    z_path = str(tmp_path / "zord")
    with session_confs(spark, {"spark.sql.files.maxRecordsPerFile": "2000"}):
        write_star(star, lex_path)
        write_star_zorder(star, z_path)

    lex_files = glob.glob(lex_path + "/date_key=*/*.parquet")
    z_files = glob.glob(z_path + "/date_key=*/*.parquet")
    assert len(lex_files) >= 5 and len(z_files) >= 5

    # same rows, layout only
    assert normalize(spark.read.parquet(z_path).toPandas()) == normalize(
        spark.read.parquet(lex_path).toPandas()
    )

    lex_spans = _per_file_spans(spark, lex_path, "event_type_key")
    z_spans = _per_file_spans(spark, z_path, "event_type_key")
    # lexicographic files each span ~the full type range; z-ordered
    # files cover quad blocks — materially tighter on average
    assert sum(z_spans) < 0.8 * sum(lex_spans)


@pytest.mark.fullsweep
def test_zorder_multi_date_keeps_clustering(spark, tmp_path):
    """With several dates hashed into one write task, the z-clustering
    must still hold inside EVERY date directory — this is the case the
    (date_key, _z) leading-column sort exists for; a _z-only sort plus
    an unstable writer re-sort would interleave dates and scramble it."""
    star = _synthetic_star(spark, n_days=3)
    lex_path = str(tmp_path / "lex")
    z_path = str(tmp_path / "zord")
    with session_confs(spark, {"spark.sql.files.maxRecordsPerFile": "1000"}):
        write_star(star, lex_path)
        write_star_zorder(star, z_path)

    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        z_files = glob.glob(z_path + f"/date_key={day}/*.parquet")
        assert len(z_files) >= 3, day
    assert normalize(spark.read.parquet(z_path).toPandas()) == normalize(
        spark.read.parquet(lex_path).toPandas()
    )
    lex_spans = _per_file_spans(spark, lex_path, "event_type_key")
    z_spans = _per_file_spans(spark, z_path, "event_type_key")
    assert sum(z_spans) < 0.8 * sum(lex_spans)


def test_zorder_key_bit_interleave(spark):
    df = spark.range(1).select(
        zorder_key(F.lit(0b101).cast("long"), F.lit(0b011).cast("long")).alias("z")
    )
    # x bits at even positions: 1,0,1 -> 0b010001; y bits at odd:
    # 1,1,0 -> 0b001010; together 0b011011 = 27
    assert df.collect()[0].z == 0b011011
