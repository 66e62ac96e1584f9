"""Shard/partition management as data (SURVEY.md §2.6, shardmaster+shardkv).

The reference's ShardMaster assigns 10 hash shards to replica groups
with Join/Leave/Move/Query and a greedy rebalance keeping
``max-min ≤ 1`` (src/shardmaster/server.go:402-426); ShardKV routes keys
via ``shard = key[0] % NShards`` (src/shardkv/client.go:25-32) and
migrates shards between groups on reconfiguration.

Spark-first: the config is a tiny versioned DataFrame ``(num, shard,
gid)`` (P5 = append-only config history, Query(num) = time travel); the
rebalance algorithm runs driver-side over ~10 rows exactly like the
reference's (tiny-metadata operations don't deserve a shuffle); routing
is one JVM expression; "migration" (P6/P7) is a repartition/anti-join
plan over the state table, with no-loss/no-dup invariants as tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

NSHARDS = 10


def key2shard(key: Column | str, nshards: int = NSHARDS) -> Column:
    """T7: first-byte sharding, ``int(key[0]) % NShards``.

    ``F.ascii`` returns the code point of the first character — exact
    parity with the reference's ``key[0]`` on ASCII keys, and the same
    expression exists in DuckDB for the oracle.
    """
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.ascii(c), F.lit(nshards))


@dataclass(frozen=True)
class Config:
    """One shard-map version (shardmaster/common.go:24-32)."""

    num: int
    shards: tuple[int, ...]  # shard index -> gid (0 = unassigned)
    groups: dict[int, tuple[str, ...]] = field(default_factory=dict)


def _rebalanced(shards: list[int], gids: list[int]) -> list[int]:
    """Greedy rebalance to the ``max-min ≤ 1`` invariant (A8).

    Same fixed point as the reference's ReBalanceShards
    (shardmaster/server.go:402-426): repeatedly move a shard from the
    most-loaded gid (or the unassigned pool) to the least-loaded gid.
    Deterministic: ties broken by smallest gid / smallest shard index.
    """
    if not gids:
        return [0] * len(shards)
    gids = sorted(gids)
    while True:
        counts = {g: 0 for g in gids}
        unassigned = [i for i, g in enumerate(shards) if g not in counts]
        for g in shards:
            if g in counts:
                counts[g] += 1
        min_gid = min(counts, key=lambda g: (counts[g], g))
        if unassigned:
            shards[unassigned[0]] = min_gid
            continue
        max_gid = max(counts, key=lambda g: (counts[g], -g))
        if counts[max_gid] - counts[min_gid] <= 1:
            return shards
        donor_shard = next(i for i, g in enumerate(shards) if g == max_gid)
        shards[donor_shard] = min_gid


class ShardMaster:
    """Versioned shard-map service: Join/Leave/Move/Query (P1-P5).

    Config history is append-only and immutable (copy-on-write like the
    reference's NextConfig, shardmaster/server.go:353-365). All state is
    tiny driver-side metadata; `config_df` exposes any version as a
    DataFrame for joins/routing.
    """

    def __init__(self, nshards: int = NSHARDS) -> None:
        self.nshards = nshards
        self.configs: list[Config] = [Config(0, tuple([0] * nshards), {})]

    # -- ops -----------------------------------------------------------------
    def join(self, groups: dict[int, list[str]]) -> Config:
        """P1 (batch form, shardmaster2/common.go:49-52): add groups."""
        cur = self.configs[-1]
        new_groups = {**cur.groups, **{g: tuple(s) for g, s in groups.items()}}
        shards = _rebalanced(list(cur.shards), list(new_groups))
        cfg = Config(cur.num + 1, tuple(shards), new_groups)
        self._check_valid(cfg)
        self.configs.append(cfg)
        return cfg

    def leave(self, gids: list[int]) -> Config:
        """P2: remove groups; their shards scatter to the least loaded."""
        cur = self.configs[-1]
        new_groups = {g: s for g, s in cur.groups.items() if g not in set(gids)}
        shards = _rebalanced(list(cur.shards), list(new_groups))
        cfg = Config(cur.num + 1, tuple(shards), new_groups)
        self._check_valid(cfg)
        self.configs.append(cfg)
        return cfg

    def move(self, shard: int, gid: int) -> Config:
        """P3: pin one shard to a group (no rebalance, like the reference)."""
        cur = self.configs[-1]
        shards = list(cur.shards)
        shards[shard] = gid
        cfg = Config(cur.num + 1, tuple(shards), dict(cur.groups))
        self.configs.append(cfg)
        return cfg

    def query(self, num: int = -1) -> Config:
        """P4: fetch config #num; -1 or out-of-range → latest."""
        if num < 0 or num >= len(self.configs):
            return self.configs[-1]
        return self.configs[num]

    # -- invariants ----------------------------------------------------------
    def _check_valid(self, cfg: Config) -> None:
        """P9: every assigned shard's gid must exist in groups."""
        for gid in cfg.shards:
            if gid != 0 and gid not in cfg.groups:
                raise AssertionError(f"shard assigned to dead gid {gid} in cfg {cfg.num}")

    def balance_spread(self, num: int = -1) -> int:
        """max-min shard count across live groups (must be ≤ 1)."""
        cfg = self.query(num)
        if not cfg.groups:
            return 0
        counts = {g: 0 for g in cfg.groups}
        for g in cfg.shards:
            if g in counts:
                counts[g] += 1
        return max(counts.values()) - min(counts.values())

    # -- DataFrame views -----------------------------------------------------
    def config_df(self, spark: SparkSession, num: int = -1) -> DataFrame:
        cfg = self.query(num)
        rows = [(cfg.num, s, g) for s, g in enumerate(cfg.shards)]
        return spark.createDataFrame(rows, "num int, shard int, gid int")

    def history_df(self, spark: SparkSession) -> DataFrame:
        """P5: the whole append-only config history as one DataFrame."""
        rows = [
            (cfg.num, s, g)
            for cfg in self.configs
            for s, g in enumerate(cfg.shards)
        ]
        return spark.createDataFrame(rows, "num int, shard int, gid int")


def route(df: DataFrame, config_df: DataFrame, key: str = "key") -> DataFrame:
    """Attach (shard, gid) to each row via first-byte routing + broadcast.

    The config side is ~NSHARDS rows — always broadcast, never a
    shuffle of the data side (shardkv/client.go:77-90 equivalent).
    """
    routed = df.withColumn("shard", key2shard(key))
    return routed.join(F.broadcast(config_df.select("shard", "gid")), "shard", "left")


def owned(df: DataFrame, config_df: DataFrame, gid: int, key: str = "key") -> DataFrame:
    """T5: shard-ownership filter (CheckValidKey, shardkv/server.go:547-553)."""
    return route(df, config_df, key).where(F.col("gid") == gid).drop("gid", "shard")


def migration_plan(old_cfg: DataFrame, new_cfg: DataFrame) -> DataFrame:
    """P6: which shards move between which groups at a config change.

    Join on shard, keep rows whose owner changed. At scale the actual
    data move is a repartition of the state table keyed by the new
    assignment — Spark's shuffle IS the TransferShard RPC
    (shardkv/server.go:237-262), with exactly-once from task retries.
    """
    o = old_cfg.select("shard", F.col("gid").alias("from_gid"))
    n = new_cfg.select("shard", F.col("gid").alias("to_gid"))
    return o.join(n, "shard").where(F.col("from_gid") != F.col("to_gid"))


def install_config(
    state: DataFrame, new_cfg: DataFrame, key: str = "key"
) -> DataFrame:
    """P7: atomically re-route the whole state table under a new config.

    A pure repartition-by-routing — no data is lost or duplicated
    because it's one deterministic shuffle, not a per-shard pull
    protocol; tests assert the no-loss/no-dup invariant.
    """
    return route(state, new_cfg, key)
