"""ADC query path (pq_adc_topk / ivfpq_adc_topk).

The contract: every (query_id, rank, neighbor_id, approx_cos) cell is
BIT-IDENTICAL to an independent pure-python ADC top-k written here — same
left-to-right float accumulation, a correctly rounded sqrt, ties broken
by neighbor id, null (zero-norm) scores last — at any query count.
"""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from httpz_spark.operators import similarity as SIM
from httpz_spark.operators.simindex import IVFPQIndex, PQIndex


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _cells(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["approx_cos"])
        for r in df.collect()
    )


# -- scalar reference: a pure-python ADC top-k -----------------------------


def _scalar_topk(scored, k):
    """(query_id, rank, neighbor_id, approx_cos) by (score desc, id asc),
    null scores last — the final window's order."""
    out = []
    for qid, cands in scored.items():
        cands.sort(key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]))
        out.extend((qid, r + 1, vid, s) for r, (vid, s) in enumerate(cands[:k]))
    return sorted(out)


def _scalar_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _scalar_luts(qv, cb):
    m, sub = len(cb), len(cb[0][0])
    ip = [[sum(qv[mi * sub + j] * c[j] for j in range(sub))
           for c in cb[mi]] for mi in range(m)]
    return math.sqrt(_scalar_dot(qv, qv)), ip


def _scalar_normsq(cb):
    return [[sum(x * x for x in c) for c in book] for book in cb]


def _scalar_score(s, qn, nsum):
    den = qn * math.sqrt(nsum)
    return None if den == 0 else s / den  # 0/0: zero vector -> null


def _scalar_pq_adc(rows, cb, queries, k):
    """rows: [(vec_id, codes)], queries: [(query_id, vector)]."""
    normsq = _scalar_normsq(cb)
    scored = {}
    for qid, qv in queries:
        qn, ip = _scalar_luts(qv, cb)
        cands = scored[qid] = []
        for vid, code in rows:
            s, nsum = ip[0][code[0]], normsq[0][code[0]]
            for mi in range(1, len(cb)):
                s += ip[mi][code[mi]]
                nsum += normsq[mi][code[mi]]
            cands.append((vid, _scalar_score(s, qn, nsum)))
    return _scalar_topk(scored, k)


def _scalar_ivfpq_adc(rows, cents, cb, queries, k, nprobe, residual):
    """rows: [(vec_id, cell, codes)], queries: [(query_id, vector)]."""
    m, sub = len(cb), len(cb[0][0])
    normsq = _scalar_normsq(cb)
    scored = {}
    for qid, qv in queries:
        qn, ip = _scalar_luts(qv, cb)
        qc = [_scalar_dot(qv, c) for c in cents]
        cos = [qc[i] / (math.sqrt(_scalar_dot(qv, qv))
                        * math.sqrt(_scalar_dot(c, c)))
               for i, c in enumerate(cents)]
        probed = {i for _, i in sorted((-c, i) for i, c in enumerate(cos))[:nprobe]}
        cands = scored[qid] = []
        for vid, cell, code in rows:
            if cell not in probed:
                continue
            c = cents[cell]
            if residual:  # x̂ = centroid + r̂
                s, nsum = qc[cell] + ip[0][code[0]], _scalar_dot(c, c)
                for mi in range(m):
                    cross = 0.0
                    for j in range(sub):
                        cross += 2.0 * c[mi * sub + j] * cb[mi][code[mi]][j]
                    nsum += cross + normsq[mi][code[mi]]
            else:
                s, nsum = ip[0][code[0]], normsq[0][code[0]]
                for mi in range(1, m):
                    nsum += normsq[mi][code[mi]]
            for mi in range(1, m):
                s += ip[mi][code[mi]]
            cands.append((vid, _scalar_score(s, qn, nsum)))
    return _scalar_topk(scored, k)


def _bits(cells):
    """approx_cos as its IEEE bit pattern: bit equality, -0.0 != 0.0."""
    return [(q, r, i, None if s is None else struct.pack("<d", s))
            for q, r, i, s in cells]


def _qrows(q):
    return [(r["query_id"], list(map(float, r["embedding"])))
            for r in q.collect()]


def _ref_pq(codes, cb, q, k):
    rows = [(r["vec_id"], list(r["codes"])) for r in codes.collect()]
    return _bits(_scalar_pq_adc(rows, cb, _qrows(q), k))


def _ref_ivfpq(indexed, cents, cb, q, k, nprobe, residual=False):
    rows = [(r["vec_id"], r["cell"], list(r["codes"]))
            for r in indexed.collect()]
    return _bits(_scalar_ivfpq_adc(rows, cents, cb, _qrows(q), k, nprobe,
                                   residual))


def _assert_ref(got, want):
    assert _bits(_cells(got)) == want


def test_np_query_luts_bit_equal_to_driver_luts(spark, emb):
    """The vectorized LUT builder reproduces the pure-python one bit for
    bit (same left-to-right per-dim adds, one correctly rounded sqrt)."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    qpdf = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").toPandas()
    )
    Qm = np.asarray([list(map(float, v)) for v in qpdf["embedding"]],
                    dtype=np.float64)
    qnorm, ip = SIM._np_query_luts(Qm, cb)
    for qi in range(len(Qm)):
        qn, ref = _scalar_luts([float(x) for x in Qm[qi]], cb)
        assert qnorm[qi] == qn  # bit equality, not approx
        for mi in range(len(cb)):
            assert ip[mi][qi].tolist() == ref[mi]


def test_select_topk_matches_brute_force():
    rng = np.random.Generator(np.random.PCG64(7))
    qrows = rng.integers(0, 5, size=400)
    ids = rng.integers(0, 50, size=400)
    scores = rng.choice(np.linspace(-1, 1, 21), size=400)  # force ties
    qr, iD, sc = SIM._select_topk(qrows, ids, scores.astype(np.float64), 3)
    got = sorted(zip(qr.tolist(), iD.tolist(), sc.tolist()))
    want = []
    for q in np.unique(qrows):
        cand = sorted(
            [(-scores[i], ids[i]) for i in range(400) if qrows[i] == q]
        )[:3]
        want.extend((int(q), int(i), float(-s)) for s, i in cand)
    assert got == sorted(want)


def test_pq_adc_distributed_bit_equal(spark, emb):
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb, cb)
    q = _queries(emb)
    _assert_ref(SIM.pq_adc_topk(codes, cb, q, k=3), _ref_pq(codes, cb, q, 3))


def test_pq_adc_three_paths_identical(spark, emb):
    """The same codes laid out three ways (as encoded, 16 partitions, one
    partition) score to identical cells, each bit-equal to the scalar
    reference: the task-local top-k does not depend on the layout."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb.limit(400), cb).cache()
    q = _queries(emb, 48)
    want = _ref_pq(codes, cb, q, 3)
    for layout in (codes, codes.repartition(16), codes.coalesce(1)):
        _assert_ref(SIM.pq_adc_topk(layout, cb, q, k=3), want)
    codes.unpersist()


def test_pq_adc_distributed_bit_equal_small_chunks(spark, emb):
    """Exercise the task-local top-k compaction over many tiny batches."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb.limit(300), cb)
    q = _queries(emb, 64)
    _assert_ref(SIM.pq_adc_topk(codes.repartition(16), cb, q, k=2),
                _ref_pq(codes, cb, q, 2))


def test_ivfpq_adc_distributed_bit_equal(spark, emb):
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 16)
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    cells = SIM.ivf_assign(emb.select("vec_id", "embedding"), cents)
    codes = SIM.pq_encode(emb, cb)
    indexed = cells.select("vec_id", "cell").join(codes, "vec_id")
    q = _queries(emb)
    _assert_ref(SIM.ivfpq_adc_topk(indexed, cents, cb, q, k=3, nprobe=4),
                _ref_ivfpq(indexed, cents, cb, q, 3, 4))


def test_np_probe_cells_matches_seq_cos_ranking(spark, emb):
    """Probe-cell ranking: vectorized argsort(-cos, stable) == a scalar
    sorted((-cos, i)) for every query."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 16)
    qpdf = _queries(emb, 32).orderBy("query_id").select("embedding").toPandas()
    Qm = np.asarray([list(map(float, v)) for v in qpdf["embedding"]],
                    dtype=np.float64)
    got = SIM._np_probe_cells(Qm, cents, 4)
    for qi in range(len(Qm)):
        qv = [float(x) for x in Qm[qi]]
        coss = [_scalar_dot(qv, c) / (math.sqrt(_scalar_dot(qv, qv))
                                      * math.sqrt(_scalar_dot(c, c)))
                for c in cents]
        want = [i for _, i in sorted((-c, i) for i, c in enumerate(coss))[:4]]
        assert got[qi].tolist() == want


def test_index_topk_passthrough(spark, emb, tmp_path):
    """PQIndex/IVFPQIndex.topk score the persisted codes exactly like the
    scalar reference over the same rows."""
    q = _queries(emb, 6)
    pq = PQIndex.build(spark, str(tmp_path / "pq"), emb.limit(400),
                       m=8, kc=16, train=False)
    _assert_ref(pq.topk(q, k=3), _ref_pq(pq.codes(), pq.codebooks, q, 3))
    ivf = IVFPQIndex.build(spark, str(tmp_path / "ivfpq"), emb.limit(400),
                           n_centroids=8, m=8, kc=16)
    _assert_ref(ivf.topk(q, k=3, nprobe=3),
                _ref_ivfpq(ivf.rows(), ivf.centroids, ivf.codebooks, q, 3, 3))


def test_adc_empty_queries_return_empty_frame(spark, emb):
    """Zero queries: an empty frame with the usual schema, for both
    operators (no scoring job, no concatenate-of-nothing crash)."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb.limit(100), cb)
    indexed = SIM.ivfpq_encode(emb.limit(100), cents, cb)
    none = spark.createDataFrame([], "query_id long, embedding array<float>")
    want = SIM.pq_adc_topk(codes, cb, _queries(emb, 2), k=3).dtypes
    assert want == [("query_id", "bigint"), ("neighbor_id", "bigint"),
                    ("approx_cos", "double"), ("rank", "int")]
    for got in (SIM.pq_adc_topk(codes, cb, none, k=3),
                SIM.ivfpq_adc_topk(indexed, cents, cb, none, k=3, nprobe=2)):
        assert got.dtypes == want
        assert got.collect() == []


def test_adc_query_dim_mismatch_raises_on_driver(spark, emb):
    """A query whose dim is not m*sub fails with ValueError at call time,
    before any scoring job — also above 1,024 queries."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb.limit(100), cb)
    indexed = SIM.ivfpq_encode(emb.limit(100), cents, cb)
    d = len(cb) * len(cb[0][0])
    for n in (8, 1100):
        short = spark.range(n).select(
            F.col("id").alias("query_id"),
            F.array_repeat(F.lit(0.5), d - 1).alias("embedding"))
        with pytest.raises(ValueError, match="query dim"):
            SIM.pq_adc_topk(codes, cb, short, k=3)
        with pytest.raises(ValueError, match="query dim"):
            SIM.ivfpq_adc_topk(indexed, cents, cb, short, k=3, nprobe=2)


# -- residual IVFPQ (FAISS rule: quantize v - centroid[cell]) ---------------


def test_ivfpq_residual_encode_matches_scalar_model(spark, emb):
    """Residual codes == PQ codes of (v - centroid[cell]) computed by an
    independent per-row scalar pass."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    cb = SIM.residual_codebooks_fixed(emb, cents, m=8, kc=16)
    rows = (
        SIM.ivfpq_encode(emb.limit(64), cents, cb, residual=True)
        .orderBy("vec_id").collect()
    )
    pdf = emb.limit(64).orderBy("vec_id").toPandas()
    X = np.asarray([list(map(float, v)) for v in pdf["embedding"]],
                   dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    for r, vid in zip(rows, pdf["vec_id"]):
        assert r["vec_id"] == vid
        want = SIM._pq_encode_rows(
            X[pdf["vec_id"].tolist().index(vid)][None, :] - C[r["cell"]][None, :], cb
        )[0]
        assert list(r["codes"]) == [int(x) for x in want]


def test_ivfpq_residual_scores_match_reconstruction(spark, emb):
    """approx_cos under residual=True equals cos(q, centroid + r̂) by an
    independent numpy reconstruction (the folded |x̂|² / cross-term tables
    are algebra, not approximation)."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    cb = SIM.residual_codebooks_fixed(emb, cents, m=8, kc=16)
    indexed = SIM.ivfpq_encode(emb.limit(200), cents, cb, residual=True)
    q = _queries(emb, 4)
    got = SIM.ivfpq_adc_topk(indexed, cents, cb, q, k=5, nprobe=3,
                             residual=True)
    code_by_id = {r["vec_id"]: (r["cell"], list(r["codes"]))
                  for r in indexed.collect()}
    qv_by_id = {r["query_id"]: np.asarray(list(map(float, r["embedding"])))
                for r in q.collect()}
    C = np.asarray(cents, dtype=np.float64)
    m, sub = len(cb), len(cb[0][0])
    for r in got.collect():
        cell, codes = code_by_id[r["neighbor_id"]]
        rhat = np.concatenate([np.asarray(cb[mi][codes[mi]]) for mi in range(m)])
        xhat = C[cell] + rhat
        qv = qv_by_id[r["query_id"]]
        want = float(qv @ xhat / (np.linalg.norm(qv) * np.linalg.norm(xhat)))
        assert abs(r["approx_cos"] - want) < 1e-9


def test_ivfpq_residual_bit_equal_paths(spark, emb):
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 16)
    cb = SIM.train_residual_pq_codebooks(emb, cents, m=8, kc=16)
    indexed = SIM.ivfpq_encode(emb, cents, cb, residual=True)
    q = _queries(emb)
    _assert_ref(SIM.ivfpq_adc_topk(indexed, cents, cb, q, k=3, nprobe=4,
                                   residual=True),
                _ref_ivfpq(indexed, cents, cb, q, 3, 4, residual=True))


def test_ivfpq_residual_recall_beats_raw(spark, emb):
    """The FAISS rationale made measurable: at the SAME (m, kc) budget,
    quantizing residuals (a much tighter distribution than raw vectors)
    must recover more of the exact top-k."""
    queries = _queries(emb, 8)
    exact = {}
    for r in SIM.cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(residual):
        got = {}
        res = SIM.ivfpq_ann_topk(emb, queries, k=5, n_centroids=16,
                                 nprobe=4, m=8, kc=16, train=True,
                                 residual=residual)
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & got[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    raw, res = recall(False), recall(True)
    assert res > raw, (res, raw)


def test_ivfpq_index_residual_persist_roundtrip(spark, emb, tmp_path):
    """residual flag persists in the meta file; a reopened index scores
    identically, and both match the scalar residual reference."""
    q = _queries(emb, 6)
    built = IVFPQIndex.build(spark, str(tmp_path / "r"), emb.limit(400),
                             n_centroids=8, m=8, kc=16, residual=True)
    assert built.residual
    reopened = IVFPQIndex.open(spark, str(tmp_path / "r"))
    assert reopened.residual
    want = _ref_ivfpq(built.rows(), built.centroids, built.codebooks, q, 3, 3,
                      residual=True)
    _assert_ref(built.topk(q, k=3, nprobe=3), want)
    _assert_ref(reopened.topk(q, k=3, nprobe=3), want)


# -- property test on synthetic codes: ties, zero vectors, Q over 1,024 ----

_PQ_M, _PQ_SUB, _PQ_KC = 4, 2, 6


@pytest.fixture(scope="module")
def adc_world(spark):
    """Codebooks with an all-zero codeword in every subspace (so the
    all-zero code reconstructs to 0 and scores null), codes with
    duplicated rows under new ids (tied scores), and query sets on both
    sides of 1,024 with repeated vectors (tied queries)."""
    rng = np.random.Generator(np.random.PCG64(11))
    d = _PQ_M * _PQ_SUB
    cb = [[[0.0] * _PQ_SUB] + [list(map(float, rng.standard_normal(_PQ_SUB)))
                               for _ in range(_PQ_KC - 1)]
          for _ in range(_PQ_M)]
    cents = [list(map(float, rng.standard_normal(d))) for _ in range(5)]
    base = [[int(x) for x in rng.integers(0, _PQ_KC, _PQ_M)] for _ in range(50)]
    codes = base + base[:20] + [[0] * _PQ_M] * 2
    rows = [(100 + 7 * i, int(rng.integers(0, len(cents))), c)
            for i, c in enumerate(codes)]
    vecs = [list(map(float, rng.standard_normal(d))) for _ in range(1000)]
    qsets = {name: [(5 * i + 1, vecs[i % 1000]) for i in range(n)]
             for name, n in (("q40", 40), ("q1030", 1030))}
    ivf = spark.createDataFrame(
        rows, "vec_id long, cell int, codes array<int>").persist()
    return {"cb": cb, "cents": cents, "rows": rows, "qsets": qsets,
            "codes": ivf.select("vec_id", "codes"), "ivf": ivf}


def _qframe(spark, qs):
    return spark.createDataFrame(qs, "query_id long, embedding array<double>")


@pytest.mark.parametrize("qset", ["q40", "q1030"])
def test_pq_adc_paths_match_scalar_reference(spark, adc_world, qset):
    w = adc_world
    # a zero query scores null against every code
    qs = w["qsets"][qset] + [(10**6, [0.0] * (_PQ_M * _PQ_SUB))]
    want = _bits(_scalar_pq_adc([(v, c) for v, _, c in w["rows"]], w["cb"],
                                qs, 4))
    assert any(s is None for *_, s in want)
    _assert_ref(SIM.pq_adc_topk(w["codes"], w["cb"], _qframe(spark, qs), k=4),
                want)


@pytest.mark.parametrize("residual", [False, True])
@pytest.mark.parametrize("qset", ["q40", "q1030"])
def test_ivfpq_adc_paths_match_scalar_reference(spark, adc_world, qset,
                                                residual):
    w = adc_world
    qs = w["qsets"][qset]
    want = _bits(_scalar_ivfpq_adc(w["rows"], w["cents"], w["cb"], qs, 4, 2,
                                   residual))
    _assert_ref(SIM.ivfpq_adc_topk(w["ivf"], w["cents"], w["cb"],
                                   _qframe(spark, qs), k=4, nprobe=2,
                                   residual=residual),
                want)
