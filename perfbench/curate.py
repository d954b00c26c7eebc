"""``curate_shard``: the training-data path over a corpus generated from the seed.

Inputs (set-up): documents with planted near-duplicate groups, planted
eval contamination and planted junk; an eval set; image/caption rows with
planted caption duplicates and pHash flips (the ``bench.py`` image-shard
shape); embeddings with planted near-twins, PQ-trained and encoded.

Each measured repetition runs, materializing every operator's output so
each layer's wall time is its own:

``c4_clean`` -> ``gopher_keep`` -> ``ngram_jaccard_pairs`` +
``winnow_dup_pairs`` -> ``dedup_clusters(stats=...)`` -> keep canonicals ->
``decontaminate`` -> ``domain_quota_sample`` -> ``seq_pack``; then
``image_training_shard`` and ``pq_adc_topk`` near-twin queries.

``pq_adc_topk`` runs on both sides of its dispatch: 64 twin queries (at
most ``q_max`` = 1,024: the driver path) and all 1,064 vectors as queries
(above ``q_max``: the distributed path); the checks require the two to
agree.  ``dedup_clusters`` runs its ``auto`` dispatch, which takes
min-label on this graph; the path it took is reported.

Every planted fact has an expected outcome computed here in plain Python,
so the checks hold for any seed (:meth:`Curate.check`).
"""

from __future__ import annotations

import hashlib
import random
import sys

from perfbench import checks as C
from perfbench import harness as H

N_DOCS, N_EVAL = 400, 40
GROUP_EVERY, GROUP_MAX = 12, 4        # one dup group per ~12 base docs
JUNK_C4, JUNK_GOPHER, CONTAM = 0.03, 0.03, 0.02
N_HOSTS, HOT_HOST_SHARE, QUOTA = 40, 0.3, 48
N_IMAGES = 5000
N_VEC, DIM, N_TWINS = 1000, 32, 64    # 1,064 vectors > q_max = 1,024
JACCARD, WINNOW_MIN, MAX_DF = 0.3, 20, 100
CTX, SHARDS = 1024, 8
STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _words(rng: random.Random, n: int) -> list:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 8))))
    return sorted(out)


def _sentence(rng, vocab, n_words=None) -> list:
    n = n_words or rng.randint(10, 15)
    ws = [rng.choice(vocab) for _ in range(n)]
    for i in rng.sample(range(n), 2):
        ws[i] = rng.choice(STOP)
    return ws


def _text(sentences) -> str:
    return "\n".join(" ".join(s) + "." for s in sentences)


def make_corpus(seed: int) -> dict:
    """Documents, eval docs and the planted facts, from the seed."""
    rng = random.Random(seed)
    vocab = _words(rng, 800)
    long_vocab = _words(rng, 200)
    long_vocab = [w * 3 for w in long_vocab]            # mean word length > 10
    evals = [[_sentence(rng, vocab, 16) for _ in range(6)] for _ in range(N_EVAL)]
    docs, groups, junk, contaminated = [], [], set(), set()
    while len(docs) < N_DOCS:
        base = [_sentence(rng, vocab) for _ in range(rng.randint(6, 9))]
        did = len(docs)
        r = rng.random()
        if r < JUNK_C4:                                   # no sentence enders
            docs.append(" ".join(" ".join(s) for s in base))
            junk.add(did)
            continue
        if r < JUNK_C4 + JUNK_GOPHER:                     # over-long words
            docs.append(_text([[rng.choice(long_vocab) for _ in s] for s in base]))
            junk.add(did)
            continue
        if r < JUNK_C4 + JUNK_GOPHER + CONTAM:            # an eval sentence
            ev = rng.choice(evals)
            docs.append(_text(base + [rng.choice(ev)]))
            contaminated.add(did)
            continue
        docs.append(_text(base))
        if did % GROUP_EVERY == 0 and len(docs) + GROUP_MAX < N_DOCS:
            members = [did]
            for _ in range(rng.randint(1, GROUP_MAX - 1)):
                edited = []
                for s in base:                            # one word per sentence
                    s = list(s)
                    s[rng.randrange(len(s))] = rng.choice(vocab)
                    edited.append(s)
                members.append(len(docs))
                docs.append(_text(edited))
            groups.append(members)
    hosts = ["site0.example" if rng.random() < HOT_HOST_SHARE
             else f"site{rng.randrange(1, N_HOSTS)}.example" for _ in docs]
    return {"docs": docs, "hosts": hosts, "evals": [_text(e) for e in evals],
            "groups": groups, "junk": junk, "contaminated": contaminated}


def expected(corpus: dict) -> dict:
    """Kept ids after dedup + decontam, and the quota sample, by construction."""
    drop = set(corpus["junk"]) | set(corpus["contaminated"])
    for g in corpus["groups"]:
        drop.update(m for m in g if m != min(g))
    kept = sorted(set(range(len(corpus["docs"]))) - drop)
    by_host: dict = {}
    for d in kept:
        by_host.setdefault(corpus["hosts"][d], []).append(d)
    sampled = []
    for ds in by_host.values():
        ds.sort(key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
        sampled.extend(ds[:QUOTA])
    return {"kept": kept, "sampled": sorted(sampled)}


def image_survivors(n: int) -> int:
    """Components of the planted image graph: caption pairs (k-1, k) for
    k % 20 == 19 and pHash pairs (k-1, k) for k % 16 == 1."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for k in range(1, n):
        if k % 20 == 19 or k % 16 == 1:
            parent[find(k)] = find(k - 1)
    return sum(1 for k in range(n) if find(k) == k)


class Curate:
    name = "curate_shard"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.corpus = make_corpus(seed)
        self.want = expected(self.corpus)
        self.n_image_out = image_survivors(N_IMAGES)

    # -- inputs ---------------------------------------------------------------
    def setup_inputs(self) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from httpz_spark.operators import similarity as SIM

        spark, n = self.spark, H.cpus()
        c = self.corpus
        self.docs = spark.createDataFrame(
            [(i, t, h) for i, (t, h) in enumerate(zip(c["docs"], c["hosts"]))],
            "doc_id long, text string, host string").persist()
        self.evals = spark.createDataFrame(
            [(100_000 + i, t) for i, t in enumerate(c["evals"])],
            "doc_id long, text string").persist()
        k = F.col("id")
        cap_key = (k - (k % 20 == 19).cast("long")).cast("string")
        ph_src = (k - (k % 16 == 1).cast("long")).cast("string")
        base_ph = F.xxhash64(F.concat(F.lit(f"{self.seed}:ph:"), ph_src))
        bit = F.array(*[F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
                        for i in range(64)])
        b1 = F.pmod(F.xxhash64(F.concat(F.lit("f1:"), k.cast("string"))), F.lit(64))
        b2 = F.pmod(F.xxhash64(F.concat(F.lit("f2:"), k.cast("string"))), F.lit(63))
        b2 = (b1 + 1 + b2) % 64                        # two distinct bits
        mask = F.element_at(bit, (b1 + 1).cast("int")).bitwiseXOR(
            F.element_at(bit, (b2 + 1).cast("int")))
        self.images = spark.range(0, N_IMAGES, 1, n).select(
            F.format_string("img%06d", k).alias("image_id"),
            F.concat(F.lit("caption text "), cap_key).alias("caption"),
            F.when(k % 16 == 1, base_ph.bitwiseXOR(mask))
             .otherwise(base_ph).alias("phash"),
        ).persist()
        rng = np.random.default_rng(self.seed)
        X = rng.standard_normal((N_VEC, DIM))
        twins = X[:N_TWINS] + 1e-4 * rng.standard_normal((N_TWINS, DIM))
        rows = [(i, [float(v) for v in x]) for i, x in enumerate(X)]
        rows += [(N_VEC + i, [float(v) for v in x]) for i, x in enumerate(twins)]
        self.emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>").persist()
        # the persisted index: PQ codebooks trained and codes encoded once
        self.codebooks = SIM.train_pq_codebooks(self.emb, m=8, kc=16, seed=self.seed)
        self.codes = SIM.pq_encode(self.emb, self.codebooks).persist()
        self.all_queries = self.emb.select(
            F.col("vec_id").alias("query_id"), "embedding").persist()
        self.queries = self.all_queries.filter(
            F.col("query_id") < N_TWINS).persist()
        for df in (self.docs, self.evals, self.images, self.codes,
                   self.all_queries, self.queries):
            df.count()

    # -- one measured repetition ------------------------------------------------
    def rep(self, clock, tracer, state_dir: str, resume: bool = True) -> dict:
        """``resume`` has no meaning here: the pipeline keeps no state."""
        from pyspark.sql import functions as F

        from httpz_spark.operators.c4rules import c4_clean
        from httpz_spark.operators.curation import domain_quota_sample, seq_pack
        from httpz_spark.operators.decontam import decontaminate
        from httpz_spark.operators.dedup import (
            dedup_clusters,
            ngram_jaccard_pairs,
            winnow_dup_pairs,
        )
        from httpz_spark.operators.imageshard import image_training_shard
        from httpz_spark.operators.similarity import pq_adc_topk
        from httpz_spark.operators.textquality import (
            gopher_keep,
            gopher_quality_signals,
        )
        from httpz_spark.operators.textstats import token_count

        def done(df):
            return df.localCheckpoint(eager=True)

        out: dict = {}
        with clock.step("c4_clean"):
            clean = done(c4_clean(self.docs.select("doc_id", "text")).select(
                "doc_id", F.col("dedup_text").alias("text")))
        with clock.step("gopher_keep"):
            sig = gopher_keep(gopher_quality_signals(clean))
            good = done(clean.join(
                sig.filter("keep").select(F.col("id").alias("doc_id")), "doc_id"))
        with clock.step("dedup_pairs"):
            pairs = done(
                ngram_jaccard_pairs(good, threshold=JACCARD, max_df=MAX_DF)
                .select("a", "b")
                .unionByName(winnow_dup_pairs(good, min_common=WINNOW_MIN,
                                              max_df=MAX_DF).select("a", "b"))
                .distinct())
            out["pairs_n"] = pairs.count()
        with clock.step("dedup_clusters"):
            stats: dict = {}
            comp = done(dedup_clusters(pairs, stats=stats))
            out["cc_rounds"] = stats.get("rounds", 0)
            out["cc_algorithm"] = stats.get("algorithm")
            drops = comp.filter(F.col("id") != F.col("canonical")).select(
                F.col("id").alias("doc_id"))
            dedup = good.join(drops, "doc_id", "left_anti")
        with clock.step("decontaminate"):
            kept = done(decontaminate(dedup, self.evals, ngram=13))
            out["kept"] = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        with clock.step("quota_pack"):
            hosted = kept.join(self.docs.select("doc_id", "host"), "doc_id").select(
                "doc_id", "host", token_count(F.col("text")).alias("n_tokens"))
            sampled = done(domain_quota_sample(hosted, quota=QUOTA))
            packed = seq_pack(sampled, ctx=CTX, n_shards=SHARDS,
                              tokens_col="n_tokens").collect()
            srows = sampled.select("doc_id", "n_tokens").collect()
            out["sampled"] = sorted(r["doc_id"] for r in srows)
            out["pack_ok"] = (
                sum(r["n_docs"] for r in packed) == len(srows)
                and sum(r["n_tokens"] for r in packed)
                == sum(r["n_tokens"] for r in srows))
        with clock.step("image_training_shard"):
            shard = image_training_shard(self.images).select("image_id", "dup_count")
            agg = shard.agg(F.count(F.lit(1)).alias("n"),
                            F.sum("dup_count").alias("absorbed")).collect()[0]
            out["images_out"], out["images_absorbed"] = agg["n"], agg["absorbed"]
        cols = ["query_id", "rank", "neighbor_id", "approx_cos"]
        with clock.step("pq_adc_topk"):             # driver path
            top = pq_adc_topk(self.codes, self.codebooks, self.queries, k=3)
            top = sorted(tuple(r) for r in top.select(*cols).collect())
            out["twin_hits"] = sum(1 for q, _, n, _ in top if n == q + N_VEC)
        with clock.step("pq_adc_topk_dist"):        # distributed path
            top_all = pq_adc_topk(self.codes, self.codebooks, self.all_queries, k=3)
            top_all = sorted(tuple(r) for r in top_all.select(*cols).collect())
            out["dist_twin_hits"] = sum(
                1 for q, _, n, _ in top_all
                if n == q + N_VEC or (q >= N_VEC and n == q - N_VEC))
            out["adc_paths_agree"] = [r for r in top_all if r[0] < N_TWINS] == top
        out["items"] = N_DOCS + N_IMAGES
        with clock.step("checks"):
            out["checks"] = self.check(out)
        return out

    # -- output checks ------------------------------------------------------------
    def check(self, out: dict) -> dict:
        kept = set(out["kept"])
        ok = {
            "kept_ids_expected": out["kept"] == self.want["kept"],
            "dup_groups_collapse": all(
                len(kept & set(g)) == 1 and min(g) in kept
                for g in self.corpus["groups"]),
            "quota_sample_expected": out["sampled"] == self.want["sampled"],
            "seq_pack_totals": out["pack_ok"],
            "image_groups_collapse": (out["images_out"] == self.n_image_out
                                      and out["images_absorbed"] == N_IMAGES),
            "pq_twins_found": out["twin_hits"] == N_TWINS,
            "pq_dist_twins_found": out["dist_twin_hits"] == 2 * N_TWINS,
            "adc_paths_agree": out["adc_paths_agree"],
        }
        out["digests"] = {"kept": H.digest((d,) for d in out["kept"]),
                          "sampled": H.digest((d,) for d in out["sampled"])}
        ok.update(C.recorded(self.name, self.seed, out["digests"]))
        return ok

    # -- per-layer figures (traced run only) ----------------------------------------
    def probes(self, out: dict) -> dict:
        print(f"[perfbench] dedup_clusters auto took {out['cc_algorithm']}; "
              f"pq_adc_topk: {N_TWINS} queries -> driver path, "
              f"{N_VEC + N_TWINS} -> distributed path", file=sys.stderr)
        return {"dedup.pairs_n": out["pairs_n"], "dedup.cc_rounds": out["cc_rounds"],
                "dedup.cc_auto_star": int(out["cc_algorithm"] == "star")}

    def layer_metrics(self, tracer, log) -> dict:
        t = tracer.total
        return {
            "c4rules.s": t("c4_clean"), "textquality.s": t("gopher_keep"),
            "dedup.pairs_s": t("dedup_pairs"), "dedup.cc_s": t("dedup_clusters"),
            "decontam.s": t("decontaminate"), "curation.s": t("quota_pack"),
            "imageshard.s": t("image_training_shard"),
            "similarity.adc_s": t("pq_adc_topk"),
            "similarity.adc_dist_s": t("pq_adc_topk_dist"),
        }
