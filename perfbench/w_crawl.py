"""Workload ``crawl``: the Spark crawl engine on a seeded synthetic world,
checked against the pure-Python oracle crawler.

One op is a fresh-store ``CrawlEngine.run(max_rounds=ROUNDS)`` whose seed
list is every category page of the world followed by every product page
those categories link to. The round fetches both kinds, so it carries the
per-round fixed cost (staging jobs, commit) and per-URL work (fetch,
parse, image decode, link discovery); its link discovery re-finds the
seeded products, so the seen filter drops real re-discoveries. The
world's shape is fixed and only its content depends on the seed, so
every seed gives the same amount of work.
"""

from __future__ import annotations

import glob
import json
import os
import time

from harness import Ctx, digest, median

ROUNDS = 1
SHAPE = dict(
    n_hosts=8, hot_host_idx=0, hot_factor=4,   # bench_world_cfg's host mix
    categories_range=(2, 2), pages_range=(3, 3), links_per_page=(60, 60),
    images_per_product=(0, 1), image_sizes=(32,), budget_scale=1000,
)


def world_for(seed: int):
    from pushkind_crawlers_spark.synth.worldgen import SyntheticWorld, WorldConfig

    return SyntheticWorld(WorldConfig(seed=seed, **SHAPE))


def crawl_seeds(world) -> list[str]:
    cats = [world.category_url(h, c) for h in world.cfg.hosts()
            for c in range(world.host_config(h).n_categories)]
    products = dict.fromkeys(u for c in cats for u in world.fetch(c).out_links)
    return cats + list(products)


def world_digest(world, urls: list[str]) -> str:
    """Digest of what the engine observes of the world: robots, politeness,
    the seed list and every fourth page the crawl fetches (links, payload,
    images); a sample keeps the second world build cheap."""
    pages = []
    for u in urls[::4]:
        d = world.fetch(u)
        if d is None:
            pages.append(None)
            continue
        pages.append([d.kind, d.out_links, d.page_labels, d.payload, d.variants_json,
                      [[im["image_id"], im["caption"], im["bytes"].hex()] for im in d.images]])
    hosts = world.cfg.hosts()
    return digest(world.politeness_rows(), [world.robots_txt(h) for h in hosts], urls, pages)


def traced_fetch_fn(world, log_path: str):
    """The engine's fetch seam wrapped to time each Arrow batch inside the
    Python worker; records go to a JSON-lines file the driver reads back."""
    from pushkind_crawlers_spark.plans.crawl import make_world_fetch_fn

    inner = make_world_fetch_fn(world)

    def fetch_fn(batches):
        wait = [0.0]  # time spent pulling input batches from the JVM

        def pull(it):
            while True:
                t = time.time()
                try:
                    pdf = next(it)
                except StopIteration:
                    return
                finally:
                    wait[0] += time.time() - t
                yield pdf

        it = inner(pull(iter(batches)))
        while True:
            t0, wait[0] = time.time(), 0.0
            try:
                out = next(it)
            except StopIteration:
                return
            t1 = time.time()
            with open(log_path, "a") as f:
                f.write(json.dumps({"pid": os.getpid(), "start": t0, "end": t1,
                                    "busy": t1 - t0 - wait[0], "pages": len(out),
                                    "ok": int(out["ok"].sum())}) + "\n")
            yield out

    return fetch_fn


def store_footprint(root: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    return len(files), sum(os.path.getsize(p) for p in files)


class Part:
    """Set-up builds the world, the oracle's crawl and the first engine;
    ``op`` runs one crawl on a fresh store. The first op is the JVM's first
    crawl, as in a crawl job a user starts."""

    name = "crawl"

    def __init__(self, ctx: Ctx, spark):
        from pushkind_crawlers_spark.oracle import OracleCrawler
        from pushkind_crawlers_spark.plans.crawl import CrawlEngine, make_world_fetch_fn
        from pushkind_crawlers_spark.store import snapshots

        self.ctx, self.spark = ctx, spark
        self.world = world = world_for(ctx.seed)
        self.seeds = crawl_seeds(world)
        with ctx.untimed():
            oracle = OracleCrawler(world, seeds=self.seeds, max_rounds=ROUNDS).run()
            self.want_order = [(r["seq"], r["round"], r["url"], r["depth"], r["ord"])
                               for r in oracle.order]
            self.want_seen = oracle.seen
            urls = [r["url"] for r in oracle.order]
            self.inputs = world_digest(world, urls)
            if world_digest(world_for(ctx.seed), urls) != self.inputs:
                raise RuntimeError("same seed gave different crawl worlds")

        self.fetch_log = ctx.path("fetch_spans.jsonl")
        if ctx.tracer is not None:
            ctx.tracer.wrap(CrawlEngine, "run", "CrawlEngine.run")
            ctx.tracer.wrap(snapshots.SnapshotTable, "stage", "SnapshotTable.stage")
            ctx.tracer.wrap(snapshots.SnapshotStore, "commit_round", "SnapshotStore.commit_round")
            self.fetch_fn = traced_fetch_fn(world, self.fetch_log)
        else:
            self.fetch_fn = make_world_fetch_fn(world)
        self.engine_cls = CrawlEngine
        self.engines = {0: self.new_engine(0)}

    def new_engine(self, i: int):
        return self.engine_cls(self.spark, self.world, self.ctx.dir(f"store-{i}"),
                               seeds=self.seeds, fetch_fn=self.fetch_fn)

    def op(self, i: int) -> dict:
        eng = self.engines.pop(i) if i in self.engines else self.new_engine(i)
        t0 = time.time()
        crawl = eng.run(max_rounds=ROUNDS)
        t1 = time.time()
        spark = self.spark
        got_order = [(r["seq"], r["round"], r["url"], r["depth"], r["ord"])
                     for r in eng.store.table("crawl_order").read(spark).orderBy("seq").collect()]
        seen_rows = eng.store.table("seen").read(spark).collect()
        got_seen = {r["url"]: r["discovered_round"] for r in seen_rows}
        files, nbytes = store_footprint(eng.store.root)
        return {"t0": t0, "t1": t1, "wall_s": t1 - t0, "run": crawl,
                "steps": [m.wall_s for m in crawl.metrics], "items": crawl.total_scheduled,
                "ok": (got_order == self.want_order and got_seen == self.want_seen
                       and len(seen_rows) == len(self.want_seen)),
                "files": files, "bytes": nbytes}

    def summary(self, ops: list) -> tuple[dict, dict]:
        rounds = [m for o in ops for m in o["run"].metrics]
        detail = {
            "crawl_urls_per_s": sum(o["items"] for o in ops) / sum(o["wall_s"] for o in ops),
            "round_s_p50": median([m.wall_s for m in rounds]),
            "round_s": [round(m.wall_s, 4) for m in rounds],
            "round_urls": [m.scheduled for m in rounds],
            "oracle_urls": len(self.want_order),
            "inputs_digest": self.inputs,
        }
        layers = crawl_layers(self.ctx, ops, rounds, self.fetch_log) if self.ctx.tracer else {}
        return detail, layers


def crawl_layers(ctx: Ctx, ops, rounds, fetch_log: str) -> dict:
    phases: dict[str, float] = {}
    for m in rounds:
        for k, v in m.phases.items():
            phases[k] = phases.get(k, 0.0) + v
    discovered = sum(m.links_discovered for m in rounds)
    t_lo = min(o["t0"] for o in ops)
    spans = ctx.tracer.totals(t_lo)
    stage = spans.get("SnapshotTable.stage", {})
    commit = spans.get("SnapshotStore.commit_round", {})
    fetch = []
    if os.path.exists(fetch_log):
        with open(fetch_log) as f:
            fetch = [json.loads(line) for line in f]
    fetch = [r for r in fetch if r["start"] >= t_lo]
    pages = sum(r["pages"] for r in fetch)
    out = {f"crawl.phase_s.{k}": v for k, v in phases.items()}
    out.update({
        "crawl.phase_sum_over_round_wall": sum(phases.values()) / sum(m.wall_s for m in rounds),
        "crawl.rounds": len(rounds),
        "crawl.urls_scheduled": sum(m.scheduled for m in rounds),
        "crawl.links_new_ratio": (sum(m.links_new for m in rounds) / discovered
                                  if discovered else 0.0),
        "store.stage_calls": stage.get("calls", 0),
        "store.stage_s": stage.get("wall_s", 0.0),
        "store.commit_round_s": commit.get("wall_s", 0.0),
        "store.files_written": sum(o["files"] for o in ops),
        "store.bytes_written": sum(o["bytes"] for o in ops),
        "fetch.pages": pages,
        "fetch.busy_s": sum(r["busy"] for r in fetch),
        "fetch.ok_ratio": sum(r["ok"] for r in fetch) / pages if pages else 0.0,
    })
    return out
