"""Round-16 (optimization round 2) focused tests: internals changed by the
r16 performance work keep their contracts."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMALL


def _simhash_reference(spark, sf_dir):
    """The pre-r16 expression-fold fingerprint (r10/r11 form), kept as the
    reference implementation: one interpreted HOF fold per doc over the
    distinct token array, md5 per token, packed 32-bit vote counters,
    sign threshold 2*c > n."""
    from simple_land_registry_data_ingestion_spark.tables import fan_out, load

    docs = load(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    hashed = fan_out(docs).select(
        "doc_id",
        F.transform(
            toks,
            lambda t: F.struct(
                F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
                .cast("long")
                .alias("hi"),
                F.conv(F.substring(F.md5(t), 9, 8), 16, 10)
                .cast("long")
                .alias("lo"),
            ),
        ).alias("hs"),
    )
    positions = F.array(*[F.lit(p) for p in range(1, 17)])
    two32 = F.lit(1 << 32).cast("long")

    def _merge(acc, t):
        def upd(a, p):
            nib = F.when(
                p <= 8,
                (t["hi"] / F.pow(F.lit(16.0), (8 - p).cast("double")))
                .cast("long") % 16,
            ).otherwise(
                (t["lo"] / F.pow(F.lit(16.0), (16 - p).cast("double")))
                .cast("long") % 16
            )
            b0 = nib % 2
            b1 = (nib / F.lit(2.0)).cast("long") % 2
            b2 = (nib / F.lit(4.0)).cast("long") % 2
            b3 = (nib / F.lit(8.0)).cast("long") % 2
            return F.struct(
                (a["a"] + b0 + b1 * two32).alias("a"),
                (a["b"] + b2 + b3 * two32).alias("b"),
            )

        return F.zip_with(acc, positions, upd)

    zero16 = F.array_repeat(
        F.struct(
            F.lit(0).cast("long").alias("a"), F.lit(0).cast("long").alias("b")
        ),
        16,
    )
    counted = hashed.select(
        "doc_id",
        F.size("hs").alias("n_tok"),
        F.aggregate("hs", zero16, _merge).alias("pks"),
    )
    hex_chars = "0123456789abcdef"

    def _hex(acc, pk):
        c0 = pk["a"] % two32
        c1 = (pk["a"] / F.lit(4294967296.0)).cast("long")
        c2 = pk["b"] % two32
        c3 = (pk["b"] / F.lit(4294967296.0)).cast("long")
        nib = (
            F.when(2 * c0 > F.col("n_tok"), 1).otherwise(0)
            + F.when(2 * c1 > F.col("n_tok"), 2).otherwise(0)
            + F.when(2 * c2 > F.col("n_tok"), 4).otherwise(0)
            + F.when(2 * c3 > F.col("n_tok"), 8).otherwise(0)
        )
        return F.concat(acc, F.substring(F.lit(hex_chars), nib + 1, 1))

    return counted.select(
        "doc_id",
        F.aggregate("pks", F.lit("").cast("string"), _hex).alias("simhash"),
    )


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE])
def test_simhash_mapinpandas_matches_expression_fold(spark, sf_dir):
    """The r16 numpy mapInPandas fingerprint is bit-identical to the
    r10/r11 expression fold (tokenization untouched, md5+votes moved)."""
    from simple_land_registry_data_ingestion_spark.operators import dedup

    got = sorted(map(tuple, dedup.dedup_simhash(spark, sf_dir).collect()))
    want = sorted(map(tuple, _simhash_reference(spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_simhash_null_and_empty_token_arrays(spark):
    """Contract edges the r16 Python fold must preserve: a null token
    array yields a NULL fingerprint, an empty array yields 16 zero
    nibbles (zero votes lose every sign test)."""
    import pandas as pd

    from simple_land_registry_data_ingestion_spark.operators.dedup import (
        _simhash_votes_pandas,
    )

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "hs": [None, [], ["tok"]]})
    out = pd.concat(list(_simhash_votes_pandas(iter([pdf]))))
    got = dict(zip(out["doc_id"], out["simhash"]))
    assert got[1] is None
    assert got[2] == "0" * 16
    assert len(got[3]) == 16


@pytest.mark.parametrize("distance", [1, 3])
def test_simhash_pairs_emission_matches_reference_and_unique(spark, distance):
    """The r16 verify-inside-emission + first-colliding-band rewrite is
    SET-identical to the reference emission (expand all candidate pairs,
    verify after, distinct) and emits every pair exactly once — the
    dropped ``distinct`` cannot be hiding duplicates."""
    from simple_land_registry_data_ingestion_spark.operators import dedup

    rows = dedup.dedup_simhash_pairs(
        spark, SF_ORACLE, max_nibble_distance=distance
    ).collect()
    got = [(r.doc_a, r.doc_b, r.nibble_distance) for r in rows]
    assert len(got) == len(set(got)), "duplicate pairs emitted"

    # reference: string band keys, post-expansion verify, distinct
    fp = dedup.dedup_simhash(spark, SF_ORACLE).localCheckpoint(eager=True)
    n_bands = distance + 1
    sizes = [
        16 // n_bands + (1 if i < 16 % n_bands else 0) for i in range(n_bands)
    ]
    starts = [sum(sizes[:i]) for i in range(n_bands)]
    bands = fp.select(
        F.struct(
            "doc_id",
            F.conv(F.substring("simhash", 1, 8), 16, 10)
            .cast("long")
            .alias("hi"),
            F.conv(F.substring("simhash", 9, 8), 16, 10)
            .cast("long")
            .alias("lo"),
        ).alias("m"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.substring("simhash", starts[b] + 1, sizes[b]),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    grouped = bands.groupBy("band_key").agg(
        F.array_sort(F.collect_list("m")).alias("ids")
    )
    cand = dedup.bucket_pairs(
        grouped, out_a="a", out_b="b", distribute_threshold=256
    )

    def _nc(x):
        folded = (
            x.bitwiseOR(F.shiftright(x, 1))
            .bitwiseOR(F.shiftright(x, 2))
            .bitwiseOR(F.shiftright(x, 3))
        )
        return F.bit_count(folded.bitwiseAND(F.lit(0x11111111)))

    dist = (
        _nc(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
        + _nc(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
    ).cast("long")
    want = {
        (r.doc_a, r.doc_b, r.nibble_distance)
        for r in (
            cand.select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                dist.alias("nibble_distance"),
            )
            .where(F.col("nibble_distance") <= distance)
            .distinct()
            .collect()
        )
    }
    assert set(got) == want and len(want) > 0


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE])
def test_quantile_distributed_selection_matches_percentile(spark, sf_dir):
    """The r16 distributed selection must reproduce Spark's `percentile`
    aggregate EXACTLY (same values before the 4-dp output rounding) —
    the bucket offsets, rank pick and interpolation replicate
    Percentile.getPercentile's arithmetic."""
    from simple_land_registry_data_ingestion_spark.operators import relational
    from simple_land_registry_data_ingestion_spark.tables import load

    got = {
        r.quantile: r.exact_value
        for r in relational.agg_approx_quantile_error(spark, sf_dir).collect()
    }
    li = load(spark, sf_dir, "lineitem")
    (ref_arr,) = li.groupBy().agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.9))"
        ).alias("p")
    ).collect()
    want = dict(zip([0.25, 0.5, 0.75, 0.9], [round(x, 4) for x in ref_arr.p]))
    assert got == want and len(got) == 4


def test_store_footer_schema_equals_spark_inference(spark, tmp_path, monkeypatch):
    """ADVICE r15: the substrate store's footer-schema fast path must
    equal Spark inference for arbitrary builder-output schemas (decimals,
    arrays, ntz timestamps), asserted on a real materialized store
    directory — not just the fixed testdata tables."""
    import os

    from simple_land_registry_data_ingestion_spark.operators import substrate
    from simple_land_registry_data_ingestion_spark.tables import _footer_schema

    monkeypatch.setenv("SPARK_GRAFT_GRAPH_STORE", str(tmp_path / "store"))

    def builder():
        return spark.range(5).select(
            F.col("id").cast("long").alias("k"),
            F.col("id").cast("decimal(28,12)").alias("dec"),
            F.array(F.col("id"), F.col("id") + 1).alias("arr"),
            F.lit("2026-01-02 03:04:05")
            .cast("timestamp_ntz")
            .alias("ts_ntz"),
            F.struct(F.col("id").alias("a")).alias("st"),
        )

    out = substrate.materialized_frame(spark, SF_SMALL, "r16schema", builder)
    assert out.count() == 5
    root = substrate.store_root()
    (entry,) = [d for d in os.listdir(root) if d.startswith("r16schema_")]
    dest = os.path.join(root, entry)
    inferred = spark.read.parquet(dest).schema
    leaves = sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    )
    assert leaves, "no parquet leaf in store dir"
    converted = _footer_schema(os.path.join(dest, leaves[0]))
    assert converted is not None
    assert converted == inferred, (
        f"store footer schema {converted.simpleString()} != "
        f"inferred {inferred.simpleString()}"
    )
