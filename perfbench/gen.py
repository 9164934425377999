"""Seeded input generation. The same seed gives the same inputs; the
engine only ever receives what this module generates.

* ``ReportCycleInputs`` draws the ``orders`` fact and ``customers`` dim
  seed tables and every per-cycle batch from one ``random.Random(seed)``
  stream, pure Python, so a test can check determinism without Spark.
* ``write_corpus`` writes a testdata-shaped star schema + text corpus
  with the recipe of ``tools/gen_organic_sf.py``: every column derives
  from ``xxhash64(row_id, salt, seed)`` over ``spark.range`` — the seed
  is folded into every hash salt — and every 20th document is a
  token-perturbed copy of its predecessor (the planted near-dup share).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]

ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_ver int, o_amount bigint, "
    "o_status string"
)
CUSTOMERS_SCHEMA = (
    "c_custkey bigint, c_ver int, c_mktsegment string, c_nationkey int"
)


@dataclass
class Batch:
    """One cycle's changes: fact rows to upsert, and (on dim cycles)
    customer rows whose attributes changed."""

    orders: list[tuple]
    customers: list[tuple] = field(default_factory=list)


class ReportCycleInputs:
    """Seed tables plus an endless, seeded stream of batches.

    Each batch is ``batch_updates`` updates, skewed to the most recent
    ``recent_key_window`` keys (a geometric draw back from the newest
    key), plus ``batch_inserts`` new keys. Every ``dim_every``-th batch
    also changes the segment of ``dim_changes`` customers. Versions
    (the precombine fields) are the cycle number, so a batch always
    wins over what it replaces."""

    def __init__(self, seed: int, sizes: dict):
        self.rng = random.Random(seed)
        self.sizes = sizes
        self.cycle = 0
        self.next_key = sizes["orders_rows"]

    def _order(self, key: int, ver: int) -> tuple:
        r = self.rng
        return (
            key,
            r.randrange(self.sizes["customers_rows"]),
            ver,
            r.randrange(100, 5_000_000),
            r.choice(STATUSES),
        )

    def seed_customers(self) -> list[tuple]:
        r = self.rng
        return [
            (k, 0, r.choice(SEGMENTS), r.randrange(25))
            for k in range(self.sizes["customers_rows"])
        ]

    def seed_orders(self) -> list[tuple]:
        return [self._order(k, 0) for k in range(self.sizes["orders_rows"])]

    def next_batch(self) -> Batch:
        s, r = self.sizes, self.rng
        self.cycle += 1
        ver = self.cycle
        keys: set[int] = set()
        newest = self.next_key - 1
        mean_back = s["recent_key_window"] / 2
        while len(keys) < s["batch_updates"]:
            back = min(int(r.expovariate(1 / mean_back)), newest)
            keys.add(newest - back)
        orders = [self._order(k, ver) for k in sorted(keys)]
        for _ in range(s["batch_inserts"]):
            orders.append(self._order(self.next_key, ver))
            self.next_key += 1
        customers = []
        if self.cycle % s["dim_every"] == 0:
            custs = r.sample(range(s["customers_rows"]), s["dim_changes"])
            customers = [
                (c, ver, r.choice(SEGMENTS), r.randrange(25))
                for c in sorted(custs)
            ]
        return Batch(orders, customers)


# -- the corpus ---------------------------------------------------------

_VOCAB = (
    "spark line column order small sort fast value scan hash slow batch "
    "part a the query agg table stream filter big merge group key join "
    "customer vector data plan shuffle"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_corpus(spark, out_dir: str, seed: int, rows: dict, dup_every: int) -> dict:
    """Write every testdata table under ``out_dir`` (one parquet file
    each) and return the planted near-dup share of ``documents``."""
    from pyspark.sql import functions as F

    s = F.lit(seed)

    def h(salt: int):
        return F.abs(F.xxhash64(F.col("id"), F.lit(salt), s))

    def unit(salt: int):
        return (h(salt) % 1_000_000) / F.lit(1_000_000.0)

    def pick(salt: int, values: list[str]):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (h(salt) % len(values) + 1).cast("int"))

    def ids(table: str):
        return spark.range(0, rows[table], 1, 1)

    def doc_text(seed_id, perturb):
        vocab = F.array(*[F.lit(w) for w in _VOCAB])
        n_tok = (F.abs(F.xxhash64(seed_id, F.lit(101), s)) % 103 + 8).cast("int")
        words = F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda i: F.element_at(
                vocab,
                (F.abs(F.xxhash64(seed_id, i, F.lit(202), s)) % len(_VOCAB) + 1).cast(
                    "int"
                ),
            ),
        )
        words = F.when(
            perturb, F.concat(F.array(F.lit("perturbed")), F.slice(words, 2, 2_000))
        ).otherwise(words)
        return F.array_join(words, " ")

    region = ids("region").select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.element_at(
            F.array(*[F.lit(v) for v in _REGIONS]), (F.col("id") + 1).cast("int")
        ).alias("r_name"),
    )
    nation = ids("nation").select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    )
    customer = ids("customer").select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        (h(1) % 25).cast("int").alias("c_nationkey"),
        F.round(unit(2) * 11_000 - 1_000, 2).alias("c_acctbal"),
        pick(3, ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]).alias(
            "c_mktsegment"
        ),
    )
    supplier = ids("supplier").select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
        (h(4) % 25).cast("int").alias("s_nationkey"),
        F.round(unit(5) * 11_000 - 1_000, 2).alias("s_acctbal"),
    )
    part = ids("part").select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("part "), pick(6, _VOCAB), F.lit(" "), pick(7, _VOCAB)).alias(
            "p_name"
        ),
        F.concat(F.lit("Brand#"), (h(8) % 25 + 11)).alias("p_brand"),
        F.concat(
            pick(9, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]),
            F.lit(" "),
            pick(10, ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]),
            F.lit(" "),
            pick(11, ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]),
        ).alias("p_type"),
        (h(12) % 50 + 1).cast("int").alias("p_size"),
        F.round(unit(13) * 1_900 + 100, 2).alias("p_retailprice"),
    )
    orders = ids("orders").select(
        F.col("id").alias("o_orderkey"),
        (h(14) % rows["customer"]).alias("o_custkey"),
        pick(15, ["O", "F", "P"]).alias("o_orderstatus"),
        F.round(unit(16) * 499_000 + 1_000, 2).alias("o_totalprice"),
        (
            F.to_timestamp(F.lit("1995-01-01"))
            + F.make_dt_interval(days=(h(17) % 2404).cast("int"))
        ).alias("o_orderdate"),
        pick(18, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]).alias(
            "o_orderpriority"
        ),
    )
    lineitem = ids("lineitem").select(
        (F.col("id") / 4).cast("bigint").alias("l_orderkey"),
        (h(19) % rows["part"]).alias("l_partkey"),
        (h(20) % rows["supplier"]).alias("l_suppkey"),
        (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
        (h(21) % 50 + 1).cast("double").alias("l_quantity"),
        F.round(unit(22) * 104_099 + 900, 2).alias("l_extendedprice"),
        ((h(23) % 11) / F.lit(100.0)).alias("l_discount"),
        ((h(24) % 9) / F.lit(100.0)).alias("l_tax"),
        pick(25, ["A", "N", "R"]).alias("l_returnflag"),
        pick(26, ["O", "F"]).alias("l_linestatus"),
        (
            F.to_timestamp(F.lit("1995-01-02"))
            + F.make_dt_interval(days=(h(27) % 2498).cast("int"))
        ).alias("l_shipdate"),
    )
    events = ids("events").select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_dt_interval(secs=(h(28) % 2_592_000).cast("double"))
        ).alias("ts"),
        (h(29) % rows["customer"]).alias("user_id"),
        pick(30, ["view", "click", "purchase", "signup", "error"]).alias("event_type"),
        F.round(unit(31) * 560, 2).alias("value"),
        F.concat(F.lit('{"k": '), (h(32) % 100), F.lit("}")).alias("props"),
    )
    is_dup = F.col("id") % dup_every == dup_every - 1
    documents = (
        ids("documents")
        .select(
            F.col("id").alias("doc_id"),
            F.when(is_dup, F.col("id") - 1).otherwise(F.col("id")).alias("seed_id"),
            is_dup.alias("is_dup"),
        )
        .select(
            "doc_id",
            doc_text(F.col("seed_id"), F.col("is_dup")).alias("text"),
            F.when(F.abs(F.xxhash64("seed_id", F.lit(33), s)) % 10 < 8, F.lit("en"))
            .otherwise(
                F.element_at(
                    F.array(F.lit("zh"), F.lit("de")),
                    (F.abs(F.xxhash64("seed_id", F.lit(34), s)) % 2 + 1).cast("int"),
                )
            )
            .alias("lang"),
            F.concat(
                F.lit("src"), F.abs(F.xxhash64("seed_id", F.lit(35), s)) % 20
            ).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    embeddings = ids("embeddings").select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                (F.abs(F.xxhash64(F.col("id"), i, F.lit(36), s)) % 2_000_001)
                / F.lit(1_000_000.0)
                - 1.0
            ).cast("float"),
        ).alias("embedding"),
        (h(37) % 10).cast("int").alias("label"),
    )
    frames = {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }
    for name, df in frames.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    n_docs = rows["documents"]
    return {"near_dup_share": (n_docs // dup_every) / n_docs}
