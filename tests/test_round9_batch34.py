"""Oracle-independent double checks for the round-9 batch-3/4 keys:
semver precedence vs a literal spec implementation, cron next-fire vs
a datetime walk, DFT bins vs numpy FFT, harmonic closeness vs a
Python BFS, matrix-profile motifs vs O(n^2) brute force, embedding
decontamination vs numpy cosine."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

from .conftest import run_key


def _semver_key(v: str):
    core, _, pre = v.partition("-")
    maj, mnr, pat = (int(x) for x in core.split("."))
    if not pre:
        return (maj, mnr, pat, 1, 0, 0, "")
    if pre.isdigit():
        return (maj, mnr, pat, 0, 0, int(pre), "")
    return (maj, mnr, pat, 0, 1, 0, pre)


def test_semver_rank_matches_spec_sort(spark, duck):
    got = run_key(spark, "fn_semver_compare")
    parts = duck.execute(
        "SELECT p_partkey, p_brand FROM part"
    ).df().set_index("p_partkey")
    got["brand"] = got["p_partkey"].map(parts["p_brand"])
    for _, grp in got.groupby("brand"):
        ordered = sorted(grp["version"], key=_semver_key)
        keys = [_semver_key(v) for v in ordered]
        # expected RANK: 1 + count of strictly-smaller keys
        import collections

        cnt = collections.Counter(keys)
        smaller = {}
        acc = 0
        for k in sorted(cnt):
            smaller[k] = acc + 1
            acc += cnt[k]
        for _, r in grp.iterrows():
            assert int(r["precedence_rank"]) == smaller[_semver_key(r["version"])]
    # spec spot checks: prerelease < release; numeric pre < alpha pre
    assert _semver_key("1.2.3-rc") < _semver_key("1.2.3")
    assert _semver_key("1.2.3-11") < _semver_key("1.2.3-alpha")
    assert _semver_key("1.2.3-2") < _semver_key("1.2.3-11")


def test_cron_next_fire_matches_datetime_walk(spark, duck):
    got = run_key(spark, "fn_cron_next_fire").set_index("o_orderkey")
    rows = duck.execute(
        "SELECT o_orderkey, o_orderdate FROM orders ORDER BY o_orderkey LIMIT 500"
    ).fetchall()
    for ok, now in rows:
        cm, ch, cdow = ok % 60, ok % 24, ok % 7
        # brute-force walk: minute grid over the next 8 days
        t = now
        for _ in range(8 * 24 * 60 + 1):
            t = t + dt.timedelta(minutes=1)
            # cron dow: 0=Sunday; python weekday(): Monday=0
            if (
                t.minute == cm
                and t.hour == ch
                and (t.weekday() + 1) % 7 == cdow
            ):
                break
        r = got.loc[ok]
        assert r["next_fire"].to_pydatetime() == t, (ok, r["next_fire"], t)
        assert int(r["wait_minutes"]) == int((t - now).total_seconds() // 60)


def test_dft_bin_energy_matches_numpy_fft(spark):
    got = run_key(spark, "multimodal_dft_bin_energy")
    sample = got[got["doc_id"] < 20]
    assert len(sample) >= 3
    for _, r in sample.iterrows():
        d = int(r["doc_id"])
        s = np.array(
            [((d * 7 + n * (1 + d % 5)) % 256) - 128 for n in range(64)],
            dtype=float,
        )
        spec = np.fft.fft(s)
        want = abs(spec[int(r["k"])]) ** 2
        assert abs(r["energy"] - want) / max(want, 1.0) < 1e-6, (d, r["k"])


def test_closeness_matches_python_bfs(spark, duck):
    got = run_key(spark, "iter_closeness_centrality").set_index("seed")
    n = duck.execute("SELECT COUNT(*) FROM customer").fetchone()[0]
    keys = [r[0] for r in duck.execute("SELECT c_custkey FROM customer").fetchall()]
    edges = {k: (k * 37 + 11) % n for k in keys}
    for seed in [k for k in keys if k % 100 == 0]:
        dist = {seed: 0}
        frontier = [seed]
        for depth in range(1, 7):
            nxt = []
            for u in frontier:
                v = edges.get(u)
                if v is not None and v not in dist:
                    dist[v] = depth
                    nxt.append(v)
            frontier = nxt
        h = sum(1.0 / d for d in dist.values() if d > 0)
        reached = sum(1 for d in dist.values() if d > 0)
        r = got.loc[seed]
        assert int(r["n_reached"]) == reached, seed
        assert abs(r["harmonic_closeness"] - h) < 1e-6, seed


def test_matrix_profile_matches_bruteforce(spark, duck):
    got = run_key(spark, "ts_matrix_profile_motif")
    wk = duck.execute(
        "SELECT date_trunc('week', o_orderdate) AS w, COUNT(*) AS c"
        " FROM orders GROUP BY w ORDER BY w"
    ).df()
    c = list(wk["c"])
    n = len(c)
    subs = [tuple(c[i : i + 4]) for i in range(n - 3)]
    pairs = sorted(
        (
            sum((a - b) ** 2 for a, b in zip(subs[i], subs[j])),
            i,
            j,
        )
        for i in range(len(subs))
        for j in range(i + 4, len(subs))
    )
    for rank, (d2, i, j) in enumerate(pairs[:5], start=1):
        row = got[got["motif_rank"] == rank].iloc[0]
        assert (int(row["i"]), int(row["j"]), int(row["dist2"])) == (i, j, d2)


def test_decontaminate_embedding_matches_numpy(spark, duck):
    got = run_key(spark, "decontaminate_embedding").set_index("vec_id")
    rows = duck.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    vecs = {r[0]: np.array(r[1], dtype=np.float64) for r in rows}
    bench = {k: v for k, v in vecs.items() if k % 50 == 0}
    train = {k: v for k, v in vecs.items() if k % 50 != 0}
    assert len(got) == len(train)
    import random

    rng = random.Random(9)
    for k in rng.sample(sorted(train), 40):
        t = train[k]
        sims = [
            round(
                float(t @ b) / (math.sqrt(float(t @ t)) * math.sqrt(float(b @ b))),
                6,
            )
            for b in bench.values()
        ]
        r = got.loc[k]
        assert abs(r["max_benchmark_sim"] - max(sims)) < 2e-6, k
        assert int(r["n_hits"]) == sum(1 for s in sims if s >= 0.5), k
