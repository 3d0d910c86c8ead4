"""Array-kernel properties, no Spark: ``louvain_best`` against a
brute-force per-key reference, and the frontier h-index against the
full one (plans/gather.py)."""

import numpy as np

from distributed_graph_analytics_spark.plans.gather import (
    _LPA_NONE,
    hindex,
    louvain_best,
)


def _louvain_reference(keys, nbrs, wgts, state):
    """Per key, every distinct neighbor community's ΔQ in plain Python;
    the winner is max (ΔQ, community) over ΔQ > 0, else _LPA_NONE.
    Returns (winner by key, ΔQ list by key, own-community σ == 0
    count)."""
    comm, sigma, k_vec, internal, M = state
    w_to = {}
    for k, v, w in zip(keys.tolist(), nbrs.tolist(), wgts.tolist()):
        c = int(comm[v])
        w_to.setdefault(k, {})
        w_to[k][c] = w_to[k].get(c, 0) + w
    best, dqs, own_zero = {}, {}, 0
    for k, by_comm in w_to.items():
        cands = []
        for c, wt in by_comm.items():
            ki = int(k_vec[k])
            own = c == int(comm[k])
            kiin = wt + int(internal[k]) if own else wt
            sig = int(sigma[c]) - ki if own else int(sigma[c])
            own_zero += own and sig == 0
            cands.append((0 if own and sig == 0 else kiin * int(M) - ki * sig, c))
        dqs[k] = [dq for dq, _ in cands]
        positive = [cand for cand in cands if cand[0] > 0]
        best[k] = max(positive)[1] if positive else _LPA_NONE
    return best, dqs, own_zero


def _runs(rng, n_keys, n, max_deg):
    """Whole key runs of random (key, nbr) entries."""
    deg = rng.integers(1, max_deg + 1, n_keys)
    keys = np.repeat(rng.choice(n, n_keys, replace=False), deg).astype(np.int32)
    nbrs = rng.integers(0, n, len(keys)).astype(np.int32)
    return keys, nbrs


def _shuffled_runs(rng, keys, *cols):
    """The same entries with the key runs in a random order and each
    run's entries shuffled: every run stays whole."""
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    bounds = np.r_[starts, len(keys)]
    order = np.concatenate(
        [rng.permutation(np.arange(bounds[r], bounds[r + 1])) for r in rng.permutation(len(starts))]
    )
    return (keys[order],) + tuple(c[order] for c in cols)


def test_louvain_best_matches_brute_force():
    rng = np.random.default_rng(7)
    n = 400
    ties = nonpositive = own_zero = 0
    for _trial in range(20):
        keys, nbrs = _runs(rng, 120, n, 12)
        wgts = rng.integers(1, 4, len(keys)).astype(np.int64)
        # few communities and small integers: many ΔQ ties
        comm = rng.integers(0, 6, n).astype(np.int64)
        k_vec = rng.integers(1, 6, n).astype(np.int64)
        internal = rng.integers(0, 3, n).astype(np.int64)
        sigma = rng.integers(0, 30, n).astype(np.int64)
        # the own-community σ == 0 case: a community whose σ is one
        # member's own k
        lone = rng.choice(n, 3, replace=False)
        sigma[comm[lone]] = k_vec[lone]
        M = np.int64(rng.integers(2, 8))
        state = (comm, sigma, k_vec, internal, M)
        keys, nbrs, wgts = _shuffled_runs(rng, keys, nbrs, wgts)

        want, dqs, zeros = _louvain_reference(keys, nbrs, wgts, state)
        got_k, got_b = louvain_best(keys, nbrs, wgts, state)
        assert sorted(got_k.tolist()) == sorted(want)
        assert dict(zip(got_k.tolist(), got_b.tolist())) == want

        # the cases the reference exercised
        own_zero += zeros
        nonpositive += sum(max(d) <= 0 for d in dqs.values())
        ties += sum(max(d) > 0 and d.count(max(d)) > 1 for d in dqs.values())
    assert ties > 20 and nonpositive > 20 and own_zero > 0


def test_frontier_hindex_scores_only_dirty_keys():
    rng = np.random.default_rng(11)
    n = 500
    for _trial in range(20):
        keys, nbrs = _runs(rng, 300, n, 15)
        order = np.argsort(keys, kind="stable")
        keys, nbrs = keys[order], nbrs[order]
        w = rng.integers(0, 12, n).astype(np.int64)
        changed = rng.random(n) < 0.05
        full_k, full_h = hindex(keys, nbrs, None, (w, np.ones(n, dtype=bool)))
        got_k, got_h = hindex(keys, nbrs, None, (w, changed))
        dirty = {int(k) for k, v in zip(keys, nbrs) if changed[v]}
        assert set(got_k.tolist()) == dirty
        full = dict(zip(full_k.tolist(), full_h.tolist()))
        assert all(full[k] == h for k, h in zip(got_k.tolist(), got_h.tolist()))
    # no changed neighbor anywhere: nothing is scored
    got_k, got_h = hindex(keys, nbrs, None, (w, np.zeros(n, dtype=bool)))
    assert len(got_k) == 0 and len(got_h) == 0
