"""Shard combine placement, one-shard combine calls and byte stability.

``combine_shards`` places shard s on combine task ``s mod P`` with
P = min(num_shards, defaultParallelism), and the shard blobs must stay
byte-identical to the builds recorded before the Arrow key path and the
placement change (golden sha256 over (shard id, blob) in shard order,
seeded 200k-url frame, 4 input partitions, ``local[4]``)."""

import hashlib

import pytest
from pyspark.sql import functions as F

GOLDEN = {
    (1, "unique_local"): "c3f802aef259cbacd8434e9b7239f7c170d511b63fa1e9a9351e99fbd7d2619a",
    (32, "unique_local"): "318e529a89897fb8e79ddbba1769d6c0f90a065699b4297bf6c25251cb14a04e",
    (32, "unique_global"): "0dac2c61892e202347eb428cc4e5436367528e18c54ac17da4f4a5104baede5d",
    (32, "multiset"): "dedce17ada45a56d6d7a002b5ce5e9d5dbbda8d4f6128e10897aba042467f964",
    (64, "unique_local"): "4daa84da6bc455acf774f0e782f557d43ccf7a16cc87f7e08dcc1316ca7753d4",
}
GOLDEN_DEFERRED = "f6bd875544fbcd09ceb2ef3900b13e876b145d59687001386a3bd98e75293ad4"
N_URLS = 200_000


@pytest.fixture(scope="module")
def urls(spark):
    from cuckoo_filter_spark.sources.pages import synth_urls

    df = synth_urls(spark, N_URLS, seed=7, num_partitions=4).localCheckpoint()
    assert df.rdd.getNumPartitions() == 4
    return df


def _digest(blobs: dict) -> str:
    h = hashlib.sha256()
    for s in sorted(blobs):
        h.update(int(s).to_bytes(4, "little"))
        h.update(blobs[s])
    return h.hexdigest()


@pytest.mark.parametrize("num_shards, tasks", [(1, 1), (32, 4), (64, 4)])
def test_combine_places_shards_by_id(spark, urls, num_shards, tasks):
    """Every combine task gets exactly num_shards / P shards (hash
    partitioning of the ids put 32 shards on 4 tasks as 10/10/7/5)."""
    from cuckoo_filter_spark.operators.sharded import (
        PAIRS_SCHEMA,
        _pair_emitter,
        combine_shards,
    )
    from cuckoo_filter_spark.params import CuckooParams

    assert spark.sparkContext.defaultParallelism == 4
    params = CuckooParams.for_capacity(
        max(int(N_URLS * 1.15 / num_shards), 64), 4, 16)
    pairs = urls.mapInArrow(
        _pair_emitter(params, "url", num_shards, True), PAIRS_SCHEMA)
    placed = (combine_shards(pairs, params, True, num_shards)
              .select("shard", F.spark_partition_id().alias("task"))
              .collect())
    by_task: dict[int, list] = {}
    for r in placed:
        by_task.setdefault(r["task"], []).append(r["shard"])
    assert sorted(by_task) == list(range(tasks))
    assert all(len(v) == num_shards // tasks for v in by_task.values())
    assert all(s % tasks == t for t, v in by_task.items() for s in v)
    assert sorted(s for v in by_task.values() for s in v) == list(range(num_shards))


@pytest.mark.parametrize("num_shards, mode", sorted(GOLDEN))
def test_shard_blobs_match_golden(spark, urls, num_shards, mode):
    from cuckoo_filter_spark.operators.sharded import build_sharded_cuckoo_filter

    b = build_sharded_cuckoo_filter(urls, "url", capacity=N_URLS,
                                    num_shards=num_shards, mode=mode)
    assert len(b.blobs) == num_shards
    assert _digest(b.blobs) == GOLDEN[(num_shards, mode)]


def test_deferred_route_blobs_match_golden(spark, urls):
    """The deferred-sizing build that crosses its auto-shard threshold
    re-shuffles hash partials through the same shard combine."""
    from cuckoo_filter_spark.operators.build import build_cuckoo_filter

    b = build_cuckoo_filter(urls, "url", auto_shard=100_000)
    assert b.num_shards == 32
    assert _digest(b.blobs) == GOLDEN_DEFERRED


def test_checkpointed_build_blobs_match_golden(spark, urls, tmp_path):
    """The checkpointed route (mapInArrow emitter + the same combine)
    writes the declared build's bytes."""
    from cuckoo_filter_spark.operators.checkpoint import build_checkpointed
    from cuckoo_filter_spark.operators.sharded import load_sharded_blobs

    b = build_checkpointed(urls, "url", str(tmp_path / "ck"),
                           capacity=N_URLS, num_shards=32)
    assert _digest(load_sharded_blobs(spark, b.path)) == GOLDEN[(32, "unique_local")]


def test_combiner_call_holds_one_shard(spark, urls, monkeypatch):
    """With many shards per task (256 shards on 4 tasks) every combiner
    call gets exactly one shard's pair rows: no batch spans shards, so a
    combine holds one shard's pairs whatever the shards per task."""
    import cuckoo_filter_spark.operators.sharded as sh

    combiner = sh._shard_combiner

    def one_shard_only(params, unique):
        fn = combiner(params, unique)

        def combine(pairs):
            shards = set(pairs.column("shard").to_pylist())
            if len(shards) != 1:
                raise AssertionError(f"combiner call spans shards {sorted(shards)}")
            return fn(pairs)

        return combine

    monkeypatch.setattr(sh, "_shard_combiner", one_shard_only)
    b = sh.build_sharded_cuckoo_filter(urls, "url", capacity=N_URLS,
                                       num_shards=256)
    assert sorted(b.blobs) == list(range(256))
