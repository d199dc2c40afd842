"""The four benchmark workloads, driven through the package's public API.

Each workload stages its inputs from the seed (``stage``), warms the JVM
and Python workers on the same code path (``warm``), then runs timed
units (``unit``) until the run's time is spent. A unit is one Spark
client call sequence, issued one job at a time from this process (a
closed loop with one client). Every unit's output is checked after its
timer stops; a failed check or an exception counts as a failed
operation.

``replay_inputs`` hands the traced run (``tracing.py``) the workload's
own data for a layer-by-layer replay of one generation.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from crawlers_spark.functions.hashing import fnv64, pmod_bucket
from crawlers_spark.functions.urls import canon_urls, url_host
from crawlers_spark.operators.dedup import dedup_exact, hash_band_pairs
from crawlers_spark.operators.fused_schedule import (
    build_host_bucket_blobs,
    fused_filter_schedule,
    robots_state,
    seen_state,
)
from crawlers_spark.operators.graph import dedup_cluster_reps
from crawlers_spark.operators.scheduler import SchedulerConfig
from crawlers_spark.operators.seen_set import BloomParams
from crawlers_spark.plans.crawl import CrawlConfig, CrawlPlan, prepare_frontier
from crawlers_spark.sources.fetcher import fetch_scheduled
from crawlers_spark.sources.synthweb import (
    SynthWebConfig,
    distributed_candidates,
    distributed_seed_urls,
    make_seed_urls,
    robots_pdf,
    seed_urls_pdf,
)
from oracle.serial_crawler import crawl_serial

MAX_HAMMING = 3

# Input sizes per scale. "full" is what BENCHMARK.json runs; "tiny" keeps
# every code path but finishes in seconds (smoke test).
SIZES = {
    "full": {
        "frontier_mega": dict(n_hosts=2000, base_pages=20_000, candidates=400_000,
                              preseen=50_000, host_buckets=16, fetch_mod=30),
        "crawl_deep": dict(n_hosts=100, base_pages=200, seeds=100, generations=5),
        "crawl_resume": dict(n_hosts=300, base_pages=200, seeds=300, first=1, more=1),
        "curate": dict(n_hosts=400, base_pages=2000, pages=600, pristine_mod=4,
                       caption_mod=5),
    },
    "tiny": {
        "frontier_mega": dict(n_hosts=40, base_pages=400, candidates=4000,
                              preseen=1000, host_buckets=4, fetch_mod=4),
        "crawl_deep": dict(n_hosts=12, base_pages=40, seeds=20, generations=3),
        "crawl_resume": dict(n_hosts=12, base_pages=40, seeds=20, first=1, more=1),
        "curate": dict(n_hosts=20, base_pages=100, pages=200, pristine_mod=4,
                       caption_mod=5),
    },
}


@dataclass
class Unit:
    """One timed operation: its wall, its work and whether its output held."""

    wall_s: float
    work: int  # URLs (frontier_mega), ok pages (crawls) or rows (curate)
    ok: bool
    figures: dict = field(default_factory=dict)


def prewarm_python_workers(spark, nproc: int) -> None:
    """Start a Python worker per core and import the package in each, so
    no timed unit pays for process spawn and module import."""
    def run(batches):
        import crawlers_spark.functions.images  # noqa: F401
        import crawlers_spark.operators.fused_schedule  # noqa: F401
        import crawlers_spark.plans.crawl  # noqa: F401
        import crawlers_spark.sources.fetcher  # noqa: F401

        yield from batches

    spark.range(0, nproc, 1, nproc).mapInPandas(run, "id long").count()


class Workload:
    name = ""

    def __init__(self, spark, seed: int, scale: str, workdir: str, nproc: int):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.nproc = nproc
        self.p = SIZES[scale][self.name]
        self.problems: list[str] = []

    def check(self, what: str, ok: bool) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def stage(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed warm-up. None by default: the timed unit is then the
        first run of its code path in a fresh process, as a crawl or
        curation job launched on its own pays it."""

    def unit(self) -> Unit:
        raise NotImplementedError

    def work_counts(self) -> dict:
        """Per-seed work counts: a later change must not move these."""
        raise NotImplementedError

    def replay_inputs(self) -> dict:
        raise NotImplementedError


# ------------------------------------------------------------ frontier


class FrontierMega(Workload):
    """One fused frontier step over many messy candidates against a
    pre-seen seen-set with Bloom blobs, then a capped fetch."""

    name = "frontier_mega"

    def stage(self) -> None:
        p, spark = self.p, self.spark
        nb = p["host_buckets"]
        self.web = SynthWebConfig(n_hosts=p["n_hosts"], base_pages=p["base_pages"],
                                  seed=self.seed)
        self.robots = robots_pdf(self.web)
        self.params = BloomParams.size_for(p["preseen"] * 2, n_buckets=nb)
        preseen = prepare_frontier(
            distributed_seed_urls(spark, self.web, p["preseen"], start=p["candidates"]), nb
        )
        self.exact = (
            preseen.select("url_hash", "host_bucket").repartition(nb, "host_bucket").persist()
        )
        self.exact.count()
        self.blobs = build_host_bucket_blobs(self.exact, self.params)
        self.state = (
            seen_state(self.exact)
            .unionByName(robots_state(spark, self.robots, nb))
            .repartition(nb, "host_bucket")
            .persist()
        )
        self.state.count()
        self.expected: dict | None = None

    def _candidates(self):
        p = self.p
        return distributed_candidates(self.spark, self.web, p["candidates"], p["host_buckets"],
                                      partitions=4 * self.nproc)

    def _step(self):
        """Returns (persisted scheduled rows, figures)."""
        p = self.p
        t0 = time.monotonic()
        out = fused_filter_schedule(
            self.spark, self._candidates(), None, self.robots, SchedulerConfig(),
            blobs=self.blobs, params=self.params, n_host_buckets=p["host_buckets"],
            state=self.state, emit_strings="frontier",
        )
        sched = out.filter("status = 'scheduled'").persist()
        r = sched.agg(F.count("*").alias("n"),
                      F.expr("bit_xor(url_hash)").alias("x")).first()
        t1 = time.monotonic()
        fetched = (
            fetch_scheduled(self._fetch_set(sched), self.web)
            .groupBy("ok").count().collect()
        )
        t2 = time.monotonic()
        ok = sum(x["count"] for x in fetched if x["ok"])
        failed = sum(x["count"] for x in fetched if not x["ok"])
        return sched, dict(frontier_s=t1 - t0, fetch_s=t2 - t1, scheduled=r["n"],
                           xor=r["x"], fetched_ok=ok, fetched_failed=failed)

    def _fetch_set(self, sched):
        # a deterministic cap: every fetch_mod-th url_hash, no single-
        # partition collapse the way limit() would cause
        return sched.filter(
            F.pmod("url_hash", F.lit(self.p["fetch_mod"])) == 0
        ).withColumn("generation", F.lit(0))

    def warm(self) -> None:
        sched, fig = self._step()
        self.expected = fig
        s = sched.select("url_hash", "url_canon", "host").toPandas()
        sched.unpersist()
        preseen = set(self.exact.toPandas()["url_hash"].astype(np.int64))
        rob = self.robots.set_index("host")
        per_host = s.groupby("host").size()
        path = s["url_canon"].str.replace(r"^[a-z]+://[^/]+", "", regex=True)
        private_hosts = {h for h, d in rob["disallow_prefixes"].items() if "/private" in d}
        self.check("frontier: scheduled url_hash in pre-seen set",
                   not any(int(h) in preseen for h in s["url_hash"]))
        self.check("frontier: url_hash scheduled twice", s["url_hash"].is_unique)
        self.check("frontier: host over max_per_generation",
                   bool((per_host <= rob.loc[per_host.index, "max_per_generation"]).all()))
        self.check("frontier: /private scheduled on a disallowing host",
                   not bool((path.str.startswith("/private")
                             & s["host"].isin(private_hosts)).any()))
        self.check("frontier: nothing scheduled", len(s) > 0)

    def unit(self) -> Unit:
        sched, fig = self._step()
        sched.unpersist()
        e = self.expected
        ok = self.check(
            "frontier: scheduled set differs from the warm-up run of this seed",
            (fig["scheduled"], fig["xor"], fig["fetched_ok"], fig["fetched_failed"])
            == (e["scheduled"], e["xor"], e["fetched_ok"], e["fetched_failed"]),
        )
        return Unit(wall_s=fig["frontier_s"] + fig["fetch_s"], work=self.p["candidates"],
                    ok=ok, figures=fig)

    def work_counts(self) -> dict:
        e = self.expected
        return dict(candidates=self.p["candidates"], preseen=self.p["preseen"],
                    scheduled=e["scheduled"], fetched_ok=e["fetched_ok"],
                    fetched_failed=e["fetched_failed"])

    def replay_inputs(self) -> dict:
        p = self.p
        sched = (
            fused_filter_schedule(
                self.spark, self._candidates(), None, self.robots, SchedulerConfig(),
                blobs=self.blobs, params=self.params, n_host_buckets=p["host_buckets"],
                state=self.state, emit_strings="frontier",
            ).filter("status = 'scheduled'").localCheckpoint(eager=True)
        )
        raw = distributed_seed_urls(self.spark, self.web, p["candidates"],
                                    partitions=4 * self.nproc)
        return dict(
            web=self.web, robots=self.robots, host_buckets=p["host_buckets"],
            params=self.params, pass_blobs=True,
            fetch_input=self._fetch_set(sched),
            messy=raw.withColumnRenamed("seed_rank", "priority"),
            links_from_fetch=False, exact=self.exact, state=self.state,
            next_priority=p["candidates"], pages=None,
        )


# --------------------------------------------------------------- crawls


class _Crawl(Workload):

    def _cfg(self, generations: int, checkpoint_dir: str | None = None) -> CrawlConfig:
        nb = self.nproc
        return CrawlConfig(
            web=self.web, bloom=BloomParams.size_for(50_000, n_buckets=nb),
            n_host_buckets=nb, max_generations=generations,
            checkpoint_dir=checkpoint_dir,
        )

    def _stage_common(self, generations: int) -> None:
        p = self.p
        self.web = SynthWebConfig(n_hosts=p["n_hosts"], base_pages=p["base_pages"],
                                  seed=self.seed)
        self.seeds_pdf = make_seed_urls(self.web, p["seeds"])
        self.seeds = self.spark.createDataFrame(self.seeds_pdf)
        # the golden serial crawl, untimed: crawl order, seen-set, payloads
        self.oracle = crawl_serial(self.web, self.seeds_pdf, n_host_buckets=self.nproc,
                                   max_generations=generations)
        self.oracle_log = self.oracle.crawl_log.sort_values("order_rank").reset_index(drop=True)
        self.oracle_pages = (
            self.oracle.pages[["image_id", "phash", "caption"]]
            .sort_values("image_id").reset_index(drop=True)
        )

    def _check(self, crawl_log, pages, seen_exact) -> bool:
        """crawl order, seen-set and page payloads against the serial oracle."""
        eng = (
            crawl_log.select("generation", "priority", "url_canon", "ok").toPandas()
            .sort_values(["generation", "priority"]).reset_index(drop=True)
        )
        ora = self.oracle_log
        ok = self.check(
            f"{self.name}: crawl_log differs from the serial oracle",
            eng["url_canon"].tolist() == ora["url_canon"].tolist()
            and eng["generation"].tolist() == ora["generation"].tolist()
            and eng["ok"].tolist() == ora["ok"].tolist(),
        )
        seen = set(seen_exact.select("url_hash").toPandas()["url_hash"].astype(np.int64))
        ok &= self.check(f"{self.name}: seen-set differs from the serial oracle",
                         seen == {int(h) for h in self.oracle.seen_hashes})
        got = (
            pages.select("image_id", "phash", "caption").toPandas()
            .sort_values("image_id").reset_index(drop=True)
        )
        ok &= self.check(f"{self.name}: page payloads differ from the serial oracle",
                         got.equals(self.oracle_pages))
        return ok

    def _gen_walls(self, res) -> list[float]:
        rows = res.metrics.select("generation", "wall_ms").distinct().collect()
        return [r["wall_ms"] / 1000.0 for r in sorted(rows, key=lambda r: r["generation"])]

    def work_counts(self) -> dict:
        o = self.oracle
        return dict(seeds=self.p["seeds"], generations=int(o.metrics["generation"].max()) + 1,
                    scheduled=len(o.crawl_log), fetched_ok=len(o.pages),
                    link_candidates=self.link_candidates(o),
                    seen=len(o.seen_hashes))

    def link_candidates(self, oracle) -> int:
        """Frontier-step input rows over a serial crawl: every discovered
        link, the duplicates dropped plus the new URLs kept."""
        seeds = canon_urls(self.seeds_pdf["url"]).nunique()
        return int(oracle.metrics["deduped"].sum()) + len(oracle.seen_hashes) - seeds

    def _replay_from_checkpoint(self, ckpt: str, gen: int) -> dict:
        """Inputs for replaying generation ``gen + 1`` exactly as a resumed
        loop would: the frontier_sched and tagged state snapshot of ``gen``."""
        d = os.path.join(ckpt, f"gen={gen:05d}")
        nxt = self.spark.read.parquet(os.path.join(d, "frontier_sched"))
        state = self.spark.read.parquet(os.path.join(d, "seen_exact"))
        manifest = CrawlPlan(self.spark, self._cfg(1, ckpt)).latest_manifest()
        nb = self.nproc
        return dict(
            web=self.web, robots=robots_pdf(self.web), host_buckets=nb,
            params=BloomParams.size_for(50_000, n_buckets=nb), pass_blobs=False,
            fetch_input=nxt.filter("status = 'scheduled'").drop("generation")
            .withColumn("generation", F.lit(gen + 1)),
            messy=None, links_from_fetch=True,
            exact=state.filter("tag = 's'").select("url_hash", "host_bucket"),
            state=state.select("tag", "url_hash", "host", "crawl_delay_ms",
                               "max_per_generation", "disallow_prefixes", "spent",
                               "host_bucket"),
            next_priority=manifest["next_priority"], pages=None,
        )


class CrawlDeep(_Crawl):
    """The in-memory fused CrawlPlan loop from a few hundred seeds."""

    name = "crawl_deep"

    def stage(self) -> None:
        self._stage_common(self.p["generations"])

    def unit(self) -> Unit:
        cfg = self._cfg(self.p["generations"])
        t0 = time.monotonic()
        res = CrawlPlan(self.spark, cfg).run(self.seeds)
        wall = time.monotonic() - t0
        ok = self._check(res.crawl_log, res.pages, res.seen_exact)
        return Unit(wall_s=wall, work=res.total_fetched, ok=ok,
                    figures=dict(generations=res.generations,
                                 gen_walls=self._gen_walls(res),
                                 link_candidates=self.link_candidates(self.oracle)))

    def replay_inputs(self) -> dict:
        ckpt = os.path.join(self.workdir, "replay_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        CrawlPlan(self.spark, self._cfg(2, ckpt)).run(self.seeds)
        self.replay_ckpt = ckpt
        return self._replay_from_checkpoint(ckpt, 1)


class CrawlResume(_Crawl):
    """k checkpointed generations, then a fresh plan resumes for m more."""

    name = "crawl_resume"

    def stage(self) -> None:
        self._stage_common(self.p["first"] + self.p["more"])
        self.ckpt = os.path.join(self.workdir, "ckpt")

    def unit(self) -> Unit:
        k, m = self.p["first"], self.p["more"]
        shutil.rmtree(self.ckpt, ignore_errors=True)
        t0 = time.monotonic()
        first = CrawlPlan(self.spark, self._cfg(k, self.ckpt)).run(self.seeds)
        t1 = time.monotonic()
        res = CrawlPlan(self.spark, self._cfg(m, self.ckpt)).run(self.seeds, resume=True)
        t2 = time.monotonic()
        # the interrupted and the resumed halves together must equal the
        # uninterrupted serial crawl of k + m generations
        ok = self._check(first.crawl_log.unionByName(res.crawl_log),
                         first.pages.unionByName(res.pages), res.seen_exact)
        ok &= self.check("crawl_resume: resumed run did not continue at generation k",
                         first.generations == k and res.generations == k + m)
        return Unit(wall_s=t2 - t0, work=res.total_fetched, ok=ok,
                    figures=dict(resume_s=t2 - t1, generations=res.generations,
                                 gen_walls=self._gen_walls(first) + self._gen_walls(res),
                                 link_candidates=self.link_candidates(self.oracle)))

    def replay_inputs(self) -> dict:
        # the unit just run leaves generations 0..k+m-1 on disk
        self.replay_ckpt = self.ckpt
        last = self.p["first"] + self.p["more"] - 1
        return self._replay_from_checkpoint(self.ckpt, last - 1)


# --------------------------------------------------------------- curate


def decode_and_hash(pages):
    """pages (image_id, bytes, fmt, caption, phash) -> decoded phash rows.

    Decodes every image with the package's codecs and re-hashes the
    pixels; ``phash_ok`` says whether the stored phash matched."""
    def run(batches):
        from crawlers_spark.functions.images import decode_image, phash64

        for pdf in batches:
            ph = np.array([phash64(decode_image(bytes(b), f))
                           for b, f in zip(pdf["bytes"], pdf["fmt"])], np.int64)
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "phash": ph, "caption": pdf["caption"],
                "phash_ok": ph == pdf["phash"].to_numpy(np.int64),
            })

    return pages.select("image_id", "bytes", "fmt", "caption", "phash").mapInPandas(
        run, schema="image_id string, phash long, caption string, phash_ok boolean"
    )


def brute_force_pairs(ids: np.ndarray, hashes: np.ndarray, k: int) -> set[tuple[str, str]]:
    """All (a, b) with a < b and popcount(h_a ^ h_b) <= k, by brute force."""
    table = np.array([bin(i).count("1") for i in range(256)], np.uint8)
    h = hashes.astype(np.int64).view(np.uint64)
    out = set()
    for i in range(len(h) - 1):
        x = (h[i + 1:] ^ h[i]).view(np.uint8).reshape(-1, 8)
        d = table[x].sum(axis=1)
        for j in np.flatnonzero(d <= k):
            a, b = ids[i], ids[i + 1 + j]
            out.add((a, b) if a < b else (b, a))
    return out


def band_join_rows(hashes: np.ndarray, k: int) -> int:
    """Rows the banded equi-join of ``hash_band_pairs`` emits before its
    verify step: ordered-unique pairs sharing a band, counted once per
    shared band (same band split: k+1 bands of 64//(k+1) bits)."""
    n_bands = k + 1
    width = 64 // n_bands
    h = hashes.astype(np.int64)
    total = 0
    for i in range(n_bands):
        vals = (h >> (i * width)) & ((1 << width) - 1)
        _u, c = np.unique(vals, return_counts=True)
        total += int((c * (c - 1) // 2).sum())
    return total


def count_clusters(ids: list[str], pairs: set[tuple[str, str]]) -> int:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(i) for i in ids})


def source_urls(web: SynthWebConfig, n: int, n_host_buckets: int):
    """Messy seed spellings and the first n distinct canonical URLs they
    name, the latter as scheduled rows ready for ``fetch_scheduled``."""
    messy = seed_urls_pdf(web, np.arange(3 * n, dtype=np.int64))
    canon = canon_urls(messy["url"])
    urls = pd.Series(pd.unique(canon)[:n])
    host = url_host(urls)
    rows = pd.DataFrame({
        "url_canon": urls, "url_hash": fnv64(urls), "host": host,
        "host_bucket": pmod_bucket(fnv64(host), n_host_buckets).astype(np.int32),
        "priority": np.arange(len(urls), dtype=np.int64),
        "generation": np.int32(0), "fetch_offset_ms": np.int64(0),
    })
    return messy.rename(columns={"seed_rank": "priority"}), rows


class Curate(Workload):
    """The training-data half over an image+caption pages table."""

    name = "curate"

    def stage(self) -> None:
        p, spark = self.p, self.spark
        self.web = SynthWebConfig(n_hosts=p["n_hosts"], base_pages=p["base_pages"],
                                  seed=self.seed)
        self.messy, self.sources = source_urls(self.web, p["pages"], self.nproc)
        src = spark.createDataFrame(self.sources)
        cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "priority"]
        mirrored = fetch_scheduled(src, self.web).filter("ok").select(*cols)
        # near-duplicate images: a pristine (un-mirrored) copy of every
        # pristine_mod-th page; lossy ppm pages differ slightly, png ones not
        pristine = (
            fetch_scheduled(src.filter(F.col("priority") % p["pristine_mod"] == 0),
                            self.web, mirror=False)
            .filter("ok")
            .withColumn("image_id", F.concat("image_id", F.lit("-pristine")))
            .select(*cols)
        )
        table = mirrored.unionByName(pristine)
        # duplicate captions: every caption_mod-th row re-spells its
        # neighbour's caption (case + whitespace), which dedup_exact folds
        prev = table.select((F.col("priority") + 1).alias("priority"),
                            F.col("caption").alias("prev_caption")).dropDuplicates(["priority"])
        table = (
            table.join(prev, "priority", "left")
            .withColumn("caption", F.when(
                (F.col("priority") % p["caption_mod"] == 1) & F.col("prev_caption").isNotNull(),
                F.concat(F.lit("  "), F.upper("prev_caption"), F.lit(" ")),
            ).otherwise(F.col("caption")))
            .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        )
        self.table_path = os.path.join(self.workdir, "pages")
        table.write.mode("overwrite").parquet(self.table_path)
        # ground truth, untimed: brute-force pairs, clusters, captions
        meta = spark.read.parquet(self.table_path).select("image_id", "phash", "caption").toPandas()
        ids = meta["image_id"].to_numpy()
        self.n_rows = len(meta)
        self.truth_pairs = brute_force_pairs(ids, meta["phash"].to_numpy(np.int64), MAX_HAMMING)
        self.truth_clusters = count_clusters(list(ids), self.truth_pairs)
        norm = meta["caption"].str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
        self.truth_captions = norm.nunique()
        self.band_rows = band_join_rows(meta["phash"].to_numpy(np.int64), MAX_HAMMING)

    def pages(self):
        return self.spark.read.parquet(self.table_path)

    def _pass(self):
        t0 = time.monotonic()
        decoded = decode_and_hash(self.pages()).persist()
        r = decoded.agg(F.count("*").alias("n"),
                        F.sum(F.when(F.col("phash_ok"), 0).otherwise(1)).alias("bad")).first()
        pairs = hash_band_pairs(decoded.select("image_id", "phash"),
                                max_hamming=MAX_HAMMING).persist()
        got_pairs = {(x["id_a"], x["id_b"]) for x in pairs.select("id_a", "id_b").collect()}
        reps = dedup_cluster_reps(pairs, all_ids=decoded.select("image_id"),
                                  id_col="image_id")
        n_clusters = reps.filter("is_rep").count()
        n_captions = dedup_exact(decoded, text_col="caption", id_col="image_id").count()
        wall = time.monotonic() - t0
        pairs.unpersist()
        decoded.unpersist()
        return wall, dict(rows=r["n"], phash_mismatch=r["bad"], pairs=got_pairs,
                          clusters=n_clusters, captions=n_captions)

    def unit(self) -> Unit:
        wall, f = self._pass()
        ok = self.check("curate: row count", f["rows"] == self.n_rows)
        ok &= self.check("curate: decoded phash differs from stored", f["phash_mismatch"] == 0)
        ok &= self.check("curate: pairs differ from brute force", f["pairs"] == self.truth_pairs)
        ok &= self.check("curate: cluster count differs from brute force",
                         f["clusters"] == self.truth_clusters)
        ok &= self.check("curate: distinct captions differ", f["captions"] == self.truth_captions)
        return Unit(wall_s=wall, work=f["rows"], ok=ok,
                    figures=dict(pairs=len(f["pairs"]), clusters=f["clusters"],
                                 captions=f["captions"]))

    def work_counts(self) -> dict:
        return dict(rows=self.n_rows, pairs=len(self.truth_pairs),
                    clusters=self.truth_clusters, distinct_captions=self.truth_captions,
                    band_join_rows=self.band_rows)

    def replay_inputs(self) -> dict:
        # the table's pages were crawled from these URLs, so they are the
        # seen-set; the replay re-discovers them in messy spellings
        nb = self.nproc
        src = self.spark.createDataFrame(self.sources)
        exact = src.select("url_hash", "host_bucket")
        robots = robots_pdf(self.web)
        return dict(
            web=self.web, robots=robots, host_buckets=nb,
            params=BloomParams.size_for(len(self.sources) * 2, n_buckets=nb),
            pass_blobs=False, fetch_input=src, messy=self.spark.createDataFrame(self.messy),
            links_from_fetch=False, exact=exact,
            state=seen_state(exact).unionByName(robots_state(self.spark, robots, nb)),
            next_priority=len(self.sources), pages=self.pages(),
        )


WORKLOADS = {w.name: w for w in (FrontierMega, CrawlDeep, CrawlResume, Curate)}
