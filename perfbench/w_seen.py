"""The first part of workload ``seen_dedup``: the seen-membership layer
(``operators.seen``) called directly, past the Bloom filter's design size.

A seen table of SEEN0 keys and a round of 2 x NEW candidates: half
re-discoveries of seen keys, half new. One op is one round from that
state on the local-mode default path: ``filter_new_urls(confirm="anti")``
(Bloom probe, exact anti-join confirm of the maybe-seen residue, staged
write) and then ``add_to_bloom`` of the round's new keys. Reads (probe +
confirm + write) and writes (the insert) are timed apart. The output must
equal the exact anti-join, which the generator knows: the new keys are
exactly the fresh ids.

The Bloom is sized for BLOOM_EXPECTED keys (the engine's default of
1 << 20 scaled down with the workload) and the seen set is several times
that, so a share of the new keys falls through to the exact confirm, as
in a long crawl. The set-up builds it with ``add_to_bloom``, the engine's
resume path. A traced run adds, after the timed ops, filter health and
driver-side kernel timings on the round's keys, including a cuckoo
sidecar built from the same seen table.
"""

from __future__ import annotations

import copy
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Ctx, digest, median

SEEN0 = 300_000
NEW = 150_000
SHARDS = 32                  # the engine's sidecar_shards default
BLOOM_EXPECTED = 1 << 16


def make_keys(seed: int) -> dict:
    """Every key the op touches: SEEN0 seen ids, NEW fresh ids, and the
    round's candidates (NEW seen ids re-discovered plus the fresh ones,
    shuffled)."""
    r = np.random.default_rng(seed)
    total = SEEN0 + NEW
    ids = r.permutation(total).astype(np.int64)
    hashes = r.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, total,
                        dtype=np.int64, endpoint=True)
    new = np.arange(SEEN0, total)
    cand = r.permutation(np.concatenate([r.choice(SEEN0, NEW, replace=False), new]))
    return {"ids": ids, "hashes": hashes, "cand": cand, "new": new}


def key_table(keys: dict, idx: np.ndarray) -> pa.Table:
    ids = keys["ids"][idx]
    return pa.table({
        "url_hash": keys["hashes"][idx],
        "url": [f"http://site{i % 16}.test/p/{i:09d}" for i in ids.tolist()],
    })


def write_dir(t: pa.Table, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(t, os.path.join(path, "part-0.parquet"))
    return path


def read_pairs(path: str) -> tuple[set, int]:
    """The distinct (url_hash, url) rows under ``path``, and the row count
    (a key written twice shows in the count, not in the set)."""
    t = pq.read_table(path, columns=["url_hash", "url"])
    return set(zip(t["url_hash"].to_pylist(), t["url"].to_pylist())), t.num_rows


class Part:
    """Set-up builds the seen table, the candidates and the Bloom and runs
    a warm-up round; ``op`` runs one round from that state."""

    name = "seen"

    def __init__(self, ctx: Ctx, spark):
        from pushkind_crawlers_spark.operators import seen as S

        self.ctx, self.spark, self.S = ctx, spark, S
        self.keys = keys = make_keys(ctx.seed)
        seen_dir = write_dir(key_table(keys, np.arange(SEEN0)), ctx.dir("seen0"))
        cand_dir = write_dir(key_table(keys, keys["cand"]), ctx.dir("cand"))
        with ctx.untimed():
            self.inputs = digest(keys["ids"], keys["hashes"], keys["cand"])
            again = make_keys(ctx.seed)
            if digest(again["ids"], again["hashes"], again["cand"]) != self.inputs:
                raise RuntimeError("same seed gave different keys")
            # the generator's ground truth is the exact anti-join of the round
            if not np.array_equal(np.sort(keys["cand"][keys["cand"] >= SEEN0]), keys["new"]):
                raise RuntimeError("candidates do not hold exactly the fresh ids")
            new_t = key_table(keys, keys["new"])
            self.want = set(zip(new_t["url_hash"].to_pylist(), new_t["url"].to_pylist()))

        if ctx.tracer is not None:
            for fn in ("filter_new_urls", "add_to_bloom", "build_cuckoo_sidecar"):
                ctx.tracer.wrap(S, fn, f"seen.{fn}")
        t_build = time.time()
        self.seen = spark.read.parquet(seen_dir)
        self.bloom0 = S.NumpyBloom.sized_for(BLOOM_EXPECTED)
        S.add_to_bloom(self.bloom0, self.seen, "url_hash")
        self.build_s = time.time() - t_build
        self.cand = spark.read.parquet(cand_dir)
        # the first round in a JVM is a third slower (class loading, code
        # generation); one checked round here pays that
        self.setup_ops = [self.op(-1)]

    def op(self, i: int) -> dict:
        from pushkind_crawlers_spark.caching import release

        S = self.S
        bloom = copy.deepcopy(self.bloom0)
        out_dir = self.ctx.dir(f"seen-op{i}")
        t0 = time.time()
        out = S.filter_new_urls(self.cand, self.seen, bloom, confirm="anti")
        out.write.mode("overwrite").parquet(out_dir)
        release(out)
        t1 = time.time()
        S.add_to_bloom(bloom, self.spark.read.parquet(out_dir), "url_hash")
        t2 = time.time()
        return {"t0": t0, "t1": t2, "wall_s": t2 - t0, "steps": [t2 - t0],
                "items": len(self.keys["cand"]), "read_s": t1 - t0, "write_s": t2 - t1,
                "ok": read_pairs(out_dir) == (self.want, len(self.want))}

    def summary(self, ops: list) -> tuple[dict, dict]:
        cands = sum(o["items"] for o in ops)
        detail = {"seen_anti_cands_per_s": cands / sum(o["wall_s"] for o in ops),
                  "round_s": [o["wall_s"] for o in ops],
                  "inputs_digest": self.inputs}
        if self.ctx.tracer is None:
            return detail, {}
        layers = {"seen.build_s": self.build_s,
                  "seen.anti.probe_confirm_s": [o["read_s"] for o in ops],
                  "seen.anti.insert_s": [o["write_s"] for o in ops]}
        side_rows = self.S.build_cuckoo_sidecar(self.seen, SHARDS).collect()
        layers.update({f"seen.{k}": v
                       for k, v in probe_layers(self.keys, self.bloom0, side_rows).items()})
        return detail, layers


def probe_layers(keys: dict, bloom, side_rows) -> dict:
    """Filter health and kernel timings on the round's starting state.
    They reach into the filter classes, so a refactor of those is
    reported here instead of failing the run."""
    try:
        return {**health(keys, bloom, side_rows), **kernels(keys, bloom, side_rows)}
    except Exception as e:  # diagnostics only; the timed path is unaffected
        return {"unavailable": f"{type(e).__name__}: {e}"}


def health(keys: dict, bloom, side_rows) -> dict:
    """Filter health before the round's probe, against ground truth."""
    maybe = bloom.might_contain(keys["hashes"][keys["cand"]])
    new_maybe = bloom.might_contain(keys["hashes"][keys["new"]])
    slots = sum(len(r["words"]) // 2 for r in side_rows)
    return {
        "bloom_fill": float(np.unpackbits(bloom.words.view(np.uint8)).mean()),
        "bloom_fpr": float(new_maybe.mean()),
        "residue_frac": float(maybe.mean()),
        "sidecar_load": sum(r["count"] for r in side_rows) / slots,
        "sidecar_degraded_shards": sum(bool(r["degraded"]) for r in side_rows),
        "sidecar_bytes": sum(len(r["words"]) for r in side_rows),
    }


def kernels(keys: dict, bloom, side_rows, repeats: int = 3) -> dict:
    """Driver-side numpy kernels on the round's real keys, no Spark:
    Bloom probe/insert and one sidecar shard's cuckoo probe/insert, each
    the median of ``repeats`` runs on a fresh copy of the filter."""
    from pushkind_crawlers_spark.operators.seen import CuckooFilter

    cand_h = keys["hashes"][keys["cand"]]
    new_h = keys["hashes"][keys["new"]]
    row = next(r for r in side_rows if r["shard"] == 0)
    shard_c = cand_h[np.mod(cand_h, SHARDS) == 0]
    shard_n = new_h[np.mod(new_h, SHARDS) == 0]

    def ns_per_key(make, call, n: int) -> float:
        times = []
        for _ in range(repeats):
            f = make()
            t = time.perf_counter()
            call(f)
            times.append(time.perf_counter() - t)
        return median(times) / n * 1e9

    def cuckoo():
        return CuckooFilter.from_bytes(bytes(row["words"]), int(row["count"]))

    return {
        "bloom_probe_ns_per_key": ns_per_key(lambda: bloom, lambda f: f.might_contain(cand_h),
                                             len(cand_h)),
        "bloom_insert_ns_per_key": ns_per_key(lambda: copy.deepcopy(bloom),
                                              lambda f: f.add(new_h), len(new_h)),
        "cuckoo_probe_ns_per_key": ns_per_key(cuckoo, lambda f: f.contains(shard_c), len(shard_c)),
        "cuckoo_insert_ns_per_key": ns_per_key(cuckoo, lambda f: f.insert(shard_n), len(shard_n)),
    }
