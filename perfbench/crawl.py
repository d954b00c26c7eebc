"""``crawl_cycle``: a crawl wave, a resumed recrawl cycle, then archiving.

World: a 2,000-image, 64-host fabric generated from the seed (host h0
serves 30% of the images), with link discovery, the robots table, the trap
guard, the image payload and the cuckoo seen filter forced on
(``bloom_min_seen=0``).

Each measured repetition starts from an empty state directory:

1. ``init_frontier`` from the seed URLs and one ``run_wave`` (seen-filter
   probe, politeness window, salted fetch, state merges, lineage commit);
2. the fetched pages' HTTP validators merged into a ``seen_meta`` table;
3. a NEW :class:`CrawlEngine` over the same state directory (a resume)
   runs the recrawl cycle: ``recrawl_candidates`` over a sitemap-style
   re-seed of the seen URLs (about 10% advertise a newer lastmod, 3% are
   new), ``invalidate_seen`` (cuckoo delete + seen tombstone delta),
   ``revalidate_plan`` of the stale URLs (all answer 304), the validator
   merge and ``add_seeds``;
4. ``crawl_to_warc`` of the results and a ``read_warc`` read-back.

The outputs are checked after every repetition (:meth:`Crawl.check`).
"""

from __future__ import annotations

import os
import shutil

from perfbench import checks as C
from perfbench import harness as H

N_IMAGES, N_HOSTS = 2000, 64
HOST_BUDGET, MAX_DEPTH = 8, 3
TRAP_MAX_URLS, TRAP_KEEP = 200, 16
WARC_FILES = 16
STALE_MOD, NEW_PER_MILLE = 10, 30
OLD_LASTMOD, NEW_LASTMOD = "2026-01-01", "2026-02-01"
SAMPLE_RECORDS = 16
STORE_SPANS = {
    "read": "statestore.read", "write": "statestore.write",
    "merge_upsert": "statestore.merge", "merge_delete": "statestore.delete",
    "append": "statestore.append",
}
FILTER_SPANS = {"update": "frontier_dedup.index_update",
                "delete": "frontier_dedup.index_delete"}


class Crawl:
    name = "crawl_cycle"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    # -- inputs ---------------------------------------------------------------
    def setup_inputs(self) -> None:
        """World tables generated from the seed and materialized (in
        production they are stored tables, not per-wave work)."""
        from httpz_spark.sources import fabric as FB
        from httpz_spark.sources import synthetic as S

        self.world = FB.FabricConfig(
            n_images=N_IMAGES, n_hosts=N_HOSTS, seed=self.seed).with_certs()
        self.images = S.images_df(self.spark, self.world,
                                  partitions=H.cpus()).persist()
        self.robots = S.robots_df(self.spark, self.world).persist()
        self.images.count()
        self.robots_rows = [r.asDict() for r in self.robots.collect()]
        self.seed_lines = S.seed_url_lines(self.world)

    def engine(self, state_dir: str):
        from httpz_spark.config import EngineConfig, ScanConfig
        from httpz_spark.plans.frontier import CrawlEngine

        n = H.cpus()
        ecfg = EngineConfig(
            partitions=n, per_host_budget=HOST_BUDGET, max_depth=MAX_DEPTH,
            salt_buckets=n, seen_filter="cuckoo", bloom_min_seen=0,
            bloom_capacity_per_part=1 << 16, trap_max_urls=TRAP_MAX_URLS,
            trap_keep=TRAP_KEEP, include_payload=True, state_dir=state_dir)
        return CrawlEngine(self.spark, self.images, None, self.robots,
                           ScanConfig.all_on(discover_links=True, retries=1),
                           ecfg, self.world, state_dir=state_dir)

    def plant(self, store) -> None:
        """The sitemap-style re-seed: every stored URL again, ~10% with a
        newer lastmod (stale), plus ~3% never-seen URLs (new)."""
        from httpz_spark.sources import fabric as FB

        urls = sorted(r["url"] for r in store.read("seen_meta").select("url").collect())
        self.stale = {u for u in urls
                      if FB.h64(f"{self.seed}:stale:{u}") % STALE_MOD == 0}
        self.new = set()
        for i in range(max(1, len(urls) * NEW_PER_MILLE // 1000)):
            iid = FB.image_id_at(FB.h64(f"{self.seed}:new:{i}") % N_IMAGES)
            self.new.add(f"https://{FB.host_for_image(iid, self.world)}"
                         f"/fresh{i}/{iid}")
        self.reseed_rows = (
            [(u, NEW_LASTMOD if u in self.stale else OLD_LASTMOD) for u in urls]
            + [(u, NEW_LASTMOD) for u in sorted(self.new)])
        seen = store.read("seen").select("url_hash", "url_canon").collect()
        self.seen_hashes = [r["url_hash"] for r in seen]   # duplicates kept
        self.seen_before = {r["url_hash"]: r["url_canon"] for r in seen}

    # -- one measured repetition ------------------------------------------------
    def rep(self, clock, tracer, state_dir: str, resume: bool = True) -> dict:
        """``resume=False`` keeps the first engine for the recrawl cycle (the
        uninterrupted reference the recorded digests come from)."""
        from pyspark.sql import functions as F

        from httpz_spark.operators.frontier_dedup import CuckooIndex
        from httpz_spark.operators.recrawl import recrawl_candidates
        from httpz_spark.operators.revalidate import revalidate_plan
        from httpz_spark.sources import synthetic as S
        from httpz_spark.sources.warc import crawl_to_warc, read_warc

        spark = self.spark
        out: dict = {"state_dir": state_dir}
        shutil.rmtree(state_dir, ignore_errors=True)
        eng = self.engine(state_dir)
        undo = [tracer.wrap(CuckooIndex, FILTER_SPANS),
                tracer.wrap(eng.store, STORE_SPANS)]
        try:
            with clock.step("init_frontier"):
                eng.init_frontier(S.seeds_df(spark, self.seed_lines))
            with clock.step("run_wave"):
                out["wave"] = eng.run_wave(0)
            with clock.step("store_validators"):
                ok = eng.store.read("results").filter(
                    (F.col("status") == 200) & F.col("error_type").isNull()
                    & F.col("redirect_chain").isNull())
                eng.store.merge_upsert("seen_meta", ok.select(
                    F.col("url_canon").alias("url"),
                    F.element_at("response_headers", F.lit("ETag")).alias("etag"),
                    F.element_at("response_headers", F.lit("Last-Modified"))
                    .alias("http_last_modified"),
                    F.lit(OLD_LASTMOD).alias("lastmod")), key="url")
                self.plant(eng.store)
            if resume:
                eng = self.engine(state_dir)
                undo.append(tracer.wrap(eng.store, STORE_SPANS))
            store = eng.store
            out["engine"] = eng
            with clock.step("recrawl_candidates"):
                reseed = spark.createDataFrame(self.reseed_rows,
                                               "loc string, lastmod string")
                cand = recrawl_candidates(
                    reseed, store.read("seen_meta").select("url", "lastmod"))
                cand = cand.localCheckpoint(eager=True)
                out["reasons"] = {r["recrawl_reason"]: r["count"] for r in
                                  cand.groupBy("recrawl_reason").count().collect()}
            stale = cand.filter(F.col("recrawl_reason") == "stale")
            with clock.step("invalidate_seen"):
                keys = store.read("seen").join(
                    stale.select(F.col("loc").alias("url_canon")), "url_canon")
                eng.invalidate_seen(keys.select("url_hash"))
                out["seen_after_invalidate"] = {
                    r["url_hash"] for r in
                    store.read("seen").select("url_hash").collect()}
            with clock.step("revalidate"):
                meta = store.read("seen_meta").select(
                    F.col("url").alias("loc"), "etag",
                    F.col("http_last_modified").alias("last_modified"))
                rc = stale.join(meta, "loc").select(
                    F.regexp_extract("loc", r"^[a-z]+://([^/]*)", 1).alias("host"),
                    F.regexp_replace("loc", r"^[a-z]+://[^/]*", "").alias("path"),
                    "etag", "last_modified", "loc", "lastmod")
                rv = revalidate_plan(
                    rc.select("host", "path", "etag", "last_modified"),
                    eng.scan_cfg, self.world)
                rv = rv.join(rc.select("host", "path", "loc", "lastmod"),
                             ["host", "path"]).localCheckpoint(eager=True)
                agg = rv.agg(F.count(F.lit(1)).alias("n"),
                             F.sum(F.col("not_modified").cast("int"))
                             .alias("n304")).collect()[0]
                out["n_revalidated"] = int(agg["n"])
                out["n_304"] = int(agg["n304"] or 0)
            with clock.step("validator_merge"):
                store.merge_upsert("seen_meta", rv.filter(F.col("status") >= 0).select(
                    F.col("loc").alias("url"),
                    F.coalesce("etag_new", "etag").alias("etag"),
                    F.coalesce("last_modified_new", "last_modified")
                    .alias("http_last_modified"), "lastmod"), key="url")
            with clock.step("add_seeds"):
                eng.add_seeds(cand.select(F.col("loc").alias("raw")))
            warc_dir = out["warc_dir"] = os.path.join(self.work, "warc")
            shutil.rmtree(warc_dir, ignore_errors=True)
            with clock.step("crawl_to_warc"):
                out["cdx"] = [r.asDict() for r in crawl_to_warc(
                    store.read("results"), warc_dir, n_files=WARC_FILES).collect()]
            with clock.step("read_warc"):
                out["warc_back"] = {
                    (r["warc_file"], r["offset"]): r["body"] for r in
                    read_warc(spark, warc_dir).select(
                        "warc_file", "offset", "body").collect()}
            out["items"] = out["wave"]["n_fetched"] + out["n_revalidated"]
            with clock.step("checks"):
                out["checks"] = self.check(eng, out)
        finally:
            for u in reversed(undo):
                u()
        return out

    # -- output checks ------------------------------------------------------------
    def check(self, eng, out: dict) -> dict:
        from pyspark.sql import functions as F

        from httpz_spark.sources.warc import fetch_record

        store = eng.store
        res = store.read("results").select(
            "url_hash", "host", "path", "wave_id", "priority", "status",
            F.coalesce("url", "url_canon").alias("url"), "bytes",
            "body_preview").collect()
        lineage = store.read("lineage").collect()
        plin = store.read("partition_lineage").groupBy("wave_id").agg(
            F.sum("n_rows").alias("n")).collect()
        frontier = store.read("frontier").select(
            "wave_id", "priority", "url_hash", "url_canon").collect()
        ok = {}
        # crawl: seen set, politeness, robots, lineage sums
        res_hashes = [r["url_hash"] for r in res]
        seen = self.seen_hashes
        ok["seen_unique_equals_results"] = (
            len(seen) == len(set(seen)) == len(res_hashes) == len(set(res_hashes))
            and set(seen) == set(res_hashes))
        ok["politeness_budget"] = C.politeness_ok(res, self.robots_rows, HOST_BUDGET)
        ok["robots_disallow"] = C.robots_ok(res, self.robots_rows)
        by_wave = {r["wave_id"]: r["n_fetched"] for r in lineage}
        ok["lineage_partition_sums"] = {r["wave_id"]: r["n"] for r in plin} == by_wave
        ok["lineage_fetch_sums"] = sum(by_wave.values()) == len(res)
        # recrawl: planted mix, 304s, seen minus stale, re-seeded frontier
        stale_hashes = {h for h, u in self.seen_before.items() if u in self.stale}
        ok["recrawl_mix"] = out["reasons"] == {
            "stale": len(self.stale), "new": len(self.new)}
        ok["revalidate_304"] = (out["n_revalidated"] == len(self.stale)
                                == out["n_304"])
        ok["seen_minus_stale"] = (out["seen_after_invalidate"]
                                  == set(self.seen_before) - stale_hashes)
        ok["reseeded_in_frontier"] = (self.stale | self.new) <= {
            r["url_canon"] for r in frontier}
        # archive: CDX rows = archived rows = read-back rows; a sample of
        # records reads back byte-exact against the stored results rows,
        # whose body is built as crawl_to_warc documents it: the payload
        # bytes, else the body_preview encoded as UTF-8
        cdx = out["cdx"]
        arch = [r for r in res if r["status"] is not None and r["status"] >= 0]
        ok["cdx_rows"] = len(cdx) == len(arch) == len(out["warc_back"])
        src = {r["url"]: (bytes(r["bytes"]) if r["bytes"] is not None
                          else (r["body_preview"] or "").encode("utf-8"))
               for r in arch}
        sample = sorted(cdx, key=lambda r: (r["warc_file"], r["offset"]))
        sample = sample[::max(1, len(sample) // SAMPLE_RECORDS)][:SAMPLE_RECORDS]
        # one source row per archived URL, and some sampled bodies non-empty
        exact = (len(src) == len(arch) and bool(sample)
                 and any(src.get(r["url"]) for r in sample))
        for r in sample:
            _hdrs, block = fetch_record(out["warc_dir"], r["warc_file"],
                                        r["offset"], r["length"])
            head_end = block.find(b"\r\n\r\n")
            want = src.get(r["url"])
            exact &= (want is not None and head_end >= 0
                      and block[head_end + 4:] == want
                      and out["warc_back"].get((r["warc_file"], r["offset"])) == want)
        ok["warc_read_back_exact"] = exact
        # digests recorded for two seeds from an uninterrupted run
        out["digests"] = {
            "order": H.digest((r["wave_id"], r["priority"], r["url_hash"])
                              for r in res),
            "frontier": H.digest((r["wave_id"], r["priority"], r["url_hash"])
                                 for r in frontier),
            "errors": {str(r["wave_id"]): dict(sorted(
                (r["errors_by_type"] or {}).items())) for r in lineage},
        }
        ok.update(C.recorded(self.name, self.seed, out["digests"]))
        return ok

    # -- per-layer figures (traced run only) ----------------------------------------
    def probes(self, out: dict) -> dict:
        """Read-only post-run state probes, outside the timing (records per
        WARC writer task come from the event log, see layer_metrics)."""
        from pyspark.sql import functions as F

        from httpz_spark.operators.frontier_dedup import CuckooIndex

        eng, state_dir = out["engine"], out["state_dir"]
        m = {
            "statestore.max_deltas": C.max_deltas(eng.store),
            "statestore.state_bytes": H.dir_bytes(state_dir),
        }
        idx_dir = os.path.join(state_dir, eng.engine_cfg.seen_filter)
        m["frontier_dedup.index_bytes"] = H.dir_bytes(idx_dir)
        m["frontier_dedup.fp_rate"] = C.filter_fp_rate(
            self.spark, CuckooIndex.open_or_create(idx_dir),
            set(self.seen_before), self.seed)
        parts = [r["n_rows"] for r in eng.store.read("partition_lineage")
                 .filter(F.col("wave_id") == 0).select("n_rows").collect()]
        m["politeness.fetch_part_skew"] = C.skew(parts)
        w = out["wave"]
        m["politeness.deferred_frac"] = w["n_deferred"] / max(1, w["n_ready"])
        m["fetch.error_frac"] = sum(w["errors"].values()) / max(1, w["n_fetched"])
        m["revalidate.not_modified_frac"] = out["n_304"] / max(1, out["n_revalidated"])
        m["warc.bytes"] = H.dir_bytes(out["warc_dir"])
        return m

    def layer_metrics(self, tracer, log) -> dict:
        """Attribution of the traced repetition: the wave's jobs, and
        executor time by stage operator scope."""
        from perfbench import eventlog as EL

        wave_path = "rep/run_wave"
        wave = next(s for s in tracer.spans if s.path == wave_path)
        gap = EL.driver_gap(log, wave.start, wave.end)
        fetch = log.totals(wave_path, "MapInPandas")
        # the archive writer's tasks: one per file when the route is right,
        # so records per task = records per file and no task is empty
        writer = log.totals("rep/crawl_to_warc", "MapInArrow").task_records_in
        return {
            "frontier.wave_s": gap["wall_s"],
            "frontier.jobs_per_wave": gap["jobs"],
            "frontier.driver_gap_s": gap["gap_s"],
            "frontier.job_covered_s": gap["covered_s"],
            "frontier.exec_s": log.totals(wave_path).run_s,
            "fetch.exec_s": fetch.run_s,
            "fetch.python_run_s": fetch.py_run_s,
            "fetch.python_bytes": fetch.py_bytes,
            "fetch.task_skew": fetch.task_skew,
            "frontier_dedup.probe_exec_s": log.totals(wave_path, "MapInArrow").run_s,
            "frontier_dedup.index_update_s": (
                tracer.total("frontier_dedup.index_update")
                + tracer.total("frontier_dedup.index_delete")),
            "politeness.window_exec_s": log.totals(
                wave_path, lambda s: "Window" in s or "WindowGroupLimit" in s).run_s,
            "revalidate.exec_s": log.totals("rep/revalidate").run_s,
            "warc.file_skew": C.skew(writer),
            "warc.empty_files": sum(1 for n in writer if n == 0),
            "warc.write_s": tracer.total("crawl_to_warc"),
            "warc.read_s": tracer.total("read_warc"),
        }
