"""Property tests (SURVEY §5.3): gaps-and-islands invariants that must
hold for ANY input, not just the driver tables. A NumPy reimplementation
of the reference semantics (utils.py:135 onoff_from_binary,
marker_parsing.py:187 split_timecourse) is the ground truth; hypothesis
drives the inputs. Spark examples are expensive, so examples are few but
adversarial (duplicate timestamps, singleton runs, gap boundaries)."""

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vedb_gaze_spark.operators.clustering import sessionize
from vedb_gaze_spark.operators.temporal import run_length

BASE_US = 1_700_000_000_000_000  # event-time base, micros

# per-user lists of (t_offset_seconds, is_flagged)
_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30 * 86400),
        st.booleans(),
    ),
    min_size=1,
    max_size=40,
)
_users = st.lists(_events, min_size=1, max_size=3)


def _df(spark, users):
    rows = []
    eid = 0
    for uid, evs in enumerate(users):
        for off_s, flag in evs:
            rows.append(
                (eid, BASE_US + off_s * 1_000_000, uid, "error" if flag else "view", 0.0, "")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, t_us long, user_id long, event_type string, value double, props string"
    )
    return df.select(
        "event_id", F.timestamp_micros("t_us").alias("ts"), "user_id",
        "event_type", "value", "props",
    )


def _runs_numpy(evs):
    """Reference semantics: maximal runs of flagged rows in (t, event_id)
    order (onoff_from_binary, utils.py:135)."""
    order = sorted(range(len(evs)), key=lambda i: (evs[i][0], i))
    runs, cur = [], []
    for i in order:
        if evs[i][1]:
            cur.append(i)
        elif cur:
            runs.append(cur)
            cur = []
    if cur:
        runs.append(cur)
    return runs


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(users=_users)
def test_run_length_matches_reference_semantics(spark, users):
    got = {
        (r["user_id"], r["start_event_id"], r["end_event_id"], r["n_events"])
        for r in run_length(_df(spark, users)).collect()
    }
    want = set()
    eid_base = 0
    for uid, evs in enumerate(users):
        for runs in [_runs_numpy(evs)]:
            for run in runs:
                ids = [eid_base + i for i in run]
                want.add((uid, min(ids), max(ids), len(ids)))
        eid_base += len(evs)
    assert got == want


# small alphabet + short strings force heavy shingle sharing, so the
# prefix/size/suffix-count candidate filters all get exercised near
# their boundaries
_texts = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=30),
    min_size=2,
    max_size=10,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_texts)
def test_ppjoin_filters_lose_no_true_pair(spark, texts):
    """The PPJoin candidate filters (prefix, size, suffix-count bound —
    operators/dedup.py:_candidate_pairs) are EXACT: for any corpus, every
    pair whose round-6 Jaccard over hashed shingle sets reaches the
    threshold must appear in dedup_ngram_jaccard's output with the
    brute-force score, and no sub-threshold pair may appear. Guards the
    r3 suffix-count upgrade against an over-tight bound."""
    import math

    from vedb_gaze_spark.operators import dedup
    from vedb_gaze_spark.plans import params as P

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sets = {r["doc_id"]: set(r["s"]) for r in dedup._doc_sets(df).collect()}
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(df).collect()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            jr = math.floor(j * 1e6 + 0.5) / 1e6
            if jr >= P.JACCARD_THRESHOLD:
                want[(a, b)] = jr
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(users=_users)
def test_sessionize_invariants(spark, users):
    gap, lo, hi = 86400.0, 0.0, 40 * 86400.0
    out = sessionize(_df(spark, users), gap_s=gap, min_s=lo, max_s=hi).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
        # epoch internal consistency
        assert r["t_end"] >= r["t_start"]
        assert abs(r["duration_s"] - (r["t_end"] - r["t_start"])) < 1e-6
        assert lo < r["duration_s"] < hi
    for uid, rs in per_user.items():
        rs = sorted(rs, key=lambda r: r["t_start"])
        # epochs are disjoint and separated by more than the gap
        for a, b in zip(rs, rs[1:]):
            assert b["t_start"] - a["t_end"] > gap
        # independently recompute epoch boundaries from the raw input
        ts = sorted(t for t, _ in users[uid])
        epochs, cur = [], [ts[0]]
        for prev, t in zip(ts, ts[1:]):
            if t - prev > gap:
                epochs.append(cur)
                cur = []
            cur.append(t)
        epochs.append(cur)
        kept = [e for e in epochs if lo < (e[-1] - e[0]) < hi]
        assert len(kept) == len(rs)
        for e, r in zip(kept, rs):
            assert r["n_events"] == len(e)


# (t_offset_seconds, is_signal) rows; signals and refs interleave freely,
# including exact timestamp collisions (the as-of tie case)
_asof_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=600),
        st.booleans(),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_asof_events)
def test_match_asof_invariants(spark, evs):
    """For ANY input: (a) every ref with at least one signal at-or-before
    it emits exactly one row, refs before the first signal emit none;
    (b) the match is the LATEST qualifying signal (max t, then max
    event_id); (c) dist_sec ≥ 0."""
    from vedb_gaze_spark.operators.temporal import match_asof

    rows = []
    for eid, (off_s, is_sig) in enumerate(evs):
        rows.append(
            (eid, BASE_US + off_s * 1_000_000, 0,
             "view" if is_sig else "click", 0.0, "")
        )
    df = spark.createDataFrame(
        rows,
        "event_id long, t_us long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.timestamp_micros("t_us").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    got = {r.event_id: r for r in match_asof(df).collect()}

    sigs = [(off, eid) for eid, (off, s) in enumerate(evs) if s]
    for eid, (off, is_sig) in enumerate(evs):
        if is_sig:
            assert eid not in got
            continue
        qual = [(o, i) for o, i in sigs if o <= off]
        if not qual:
            assert eid not in got
            continue
        want_off, want_id = max(qual)
        r = got[eid]
        assert r.matched_event_id == want_id, (eid, r)
        assert r.dist_sec == float(off - want_off), (eid, r)


_edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ).map(lambda p: (min(p), max(p))).filter(lambda p: p[0] < p[1]),
    min_size=1,
    max_size=25,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edge_lists)
def test_dedup_clusters_equals_union_find(spark, edges):
    """Min-label propagation must equal a reference union-find on ANY
    pair graph — including chains, cycles, duplicate edges, and
    multi-component mixes hypothesis produces."""
    from vedb_gaze_spark.operators.dedup import dedup_clusters

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {}
    for members in comps.values():
        root = min(members)
        for n in members:
            want[n] = (root, len(members))

    pairs = spark.createDataFrame(list(set(edges)), "doc_a long, doc_b long")
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup_clusters(None, pairs=pairs).collect()
    }
    assert got == want


def test_cc_block_schedule_path_graph_multi_block_convergence(spark, caplog):
    """Solver-grade pin for the r15 K-rounds-per-action block schedule
    (VERDICT r14 #1): a 20-node path needs ~19 propagation rounds, so
    convergence lands deep inside a doubled block (schedule 1,2,4,8,8 →
    block boundaries at rounds 1,3,7,15,23) — the post-convergence
    rounds inside the final block must be identity maps (chg=0 at any
    round is a fixpoint), the result exact, and the fallback silent."""
    import logging

    from vedb_gaze_spark.operators.dedup import dedup_clusters

    n = 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with caplog.at_level(logging.WARNING, "vedb_gaze_spark.operators.dedup"):
        got = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(None, pairs=pairs, max_iters=50).collect()
        }
    assert got == {i: (0, n) for i in range(n)}
    assert not any("did not converge" in m for m in caplog.messages)


def test_cc_block_schedule_budget_cap_respected(spark, caplog):
    """The block schedule must cap the LAST block to the remaining
    max_iters budget: a 20-node path at max_iters=10 (blocks 1,2,4,3)
    must exhaust exactly the budget, fall back to the alternation, and
    still produce the exact component."""
    import logging

    from vedb_gaze_spark.operators.dedup import dedup_clusters

    n = 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with caplog.at_level(logging.WARNING, "vedb_gaze_spark.operators.dedup"):
        got = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(None, pairs=pairs, max_iters=10).collect()
        }
    assert got == {i: (0, n) for i in range(n)}
    assert any("did not converge" in m for m in caplog.messages)


def test_dedup_clusters_path_graph_exceeding_budget_still_converges(spark, caplog):
    """A 150-node path (diameter 149) starves min-label propagation at
    max_iters=5 — the r3 silent-split edge. The fallback alternation
    must produce the exact single component, and the non-convergence
    must be logged, never silent."""
    import logging

    from vedb_gaze_spark.operators.dedup import dedup_clusters

    n = 150
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with caplog.at_level(logging.WARNING, "vedb_gaze_spark.operators.dedup"):
        got = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(None, pairs=pairs, max_iters=5).collect()
        }
    assert got == {i: (0, n) for i in range(n)}
    assert any("did not converge" in m for m in caplog.messages)


def test_dedup_clusters_converged_run_skips_fallback(spark, caplog):
    """A star graph converges in one round — the fallback must NOT fire
    (no warning) and labels must be exact."""
    import logging

    from vedb_gaze_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 8)] + [(100, 101)], "doc_a long, doc_b long"
    )
    with caplog.at_level(logging.WARNING, "vedb_gaze_spark.operators.dedup"):
        got = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(None, pairs=pairs).collect()
        }
    want = {i: (0, 8) for i in range(8)}
    want.update({100: (100, 2), 101: (100, 2)})
    assert got == want
    assert not any("did not converge" in m for m in caplog.messages)


def test_cc_alternating_equals_union_find_on_adversarial_graphs(spark):
    """The fallback itself, driven directly: paths, cycles, two-component
    mixes, and a long path with a shortcut chord must all match a
    reference union-find."""
    from vedb_gaze_spark.operators.dedup import _cc_alternating

    cases = [
        [(i, i + 1) for i in range(120)],                       # long path
        [(i, (i + 1) % 60) for i in range(60)],                 # cycle
        [(i, i + 1) for i in range(40)] + [(0, 40)],            # path + chord
        [(i, i + 1) for i in range(20)]
        + [(100 + i, 101 + i) for i in range(20)],              # two paths
        [(7, 3)],                                               # single edge
    ]
    for edges in cases:
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        want = {n: min(m for m in parent if find(m) == find(n)) for n in parent}

        e = spark.createDataFrame(edges, "src long, dst long")
        both = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        got = {
            r.doc_id: r.label
            for r in _cc_alternating(both, lambda df, eager=True: df.localCheckpoint(eager)).collect()
        }
        assert got == want, edges[:3]


_q21_lineitems = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),   # orderkey
        st.integers(min_value=0, max_value=4),   # suppkey
        st.booleans(),                           # returned ('R')
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lis=_q21_lineitems, finished=st.lists(st.booleans(), min_size=7, max_size=7))
def test_q21_single_scan_aggregate_equals_subquery_semantics(spark, lis, finished):
    """The per-order aggregate collapse must equal the literal dual
    EXISTS/NOT-EXISTS semantics on ANY input — all-late orders,
    single-supplier orders, multi-late-line suppliers, ties."""
    import datetime as dt

    from vedb_gaze_spark.operators.relational import q21_suppliers_waiting

    # brute force, straight from the classic query text
    numwait: dict[int, int] = {}
    for ok, sk, late in lis:
        if not late or not finished[ok]:
            continue
        others = [(o, s, lt) for (o, s, lt) in lis if o == ok and s != sk]
        if not others:  # EXISTS other-supplier line
            continue
        if any(lt for (_, _, lt) in others):  # NOT EXISTS other late
            continue
        numwait[sk] = numwait.get(sk, 0) + 1
    want = sorted(
        ((f"S{sk}", n) for sk, n in numwait.items()),
        key=lambda r: (-r[1], r[0]),
    )

    li = spark.createDataFrame(
        [(ok, sk, 1, "R" if late else "N") for ok, sk, late in lis],
        "l_orderkey long, l_suppkey long, l_linenumber int, l_returnflag string",
    )
    orders = spark.createDataFrame(
        [(ok, "F" if f else "O") for ok, f in enumerate(finished)],
        "o_orderkey long, o_orderstatus string",
    )
    supplier = spark.createDataFrame(
        [(sk, f"S{sk}", 0) for sk in range(5)],
        "s_suppkey long, s_name string, s_nationkey int",
    )
    nation = spark.createDataFrame(
        [(0, "N0")], "n_nationkey int, n_name string"
    )
    got = [
        (r.s_name, r.numwait)
        for r in q21_suppliers_waiting(
            li, orders, supplier, nation, nation_name="N0"
        ).collect()
    ]
    assert got == want, (got, want)


# --- corpus-composition kernels (r4) -------------------------------------

_pack_groups = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1"]),
        st.integers(min_value=1, max_value=40),  # n_tokens
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_pack_groups)
def test_greedy_pack_matches_reference_fold(spark, rows):
    """greedy_pack against a straight-line Python fold of the same
    rule (first-fit in doc_id order, over-budget doc packs alone)."""
    from vedb_gaze_spark.operators.corpus import greedy_pack

    budget = 50
    data = [(src, i, t) for i, (src, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "source string, doc_id long, n_tokens long")
    got = {
        (r["source"], r["doc_id"]): r["pack_id"]
        for r in greedy_pack(df, budget).collect()
    }
    want = {}
    for src in {s for s, _, _ in data}:
        pack, fill = -1, budget
        for s, i, t in sorted(data, key=lambda x: x[1]):
            if s != src:
                continue
            if fill + t <= budget:
                fill += t
            else:
                pack, fill = pack + 1, t
            want[(s, i)] = pack
    assert got == want


_seg_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=8
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_seg_texts)
def test_line_dedup_matches_reference_first_occurrence(spark, texts):
    """line_dedup against a Python dict-based first-occurrence scan of
    the identical segmentation (hypothesis covers empty/whitespace-only
    and heavily repeated texts)."""
    from vedb_gaze_spark.operators.corpus import line_dedup
    from vedb_gaze_spark.plans import params as P

    w = P.LINE_DEDUP_WORDS
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["kept_segments"], r["text_dedup"])
        for r in line_dedup(df).collect()
    }
    seen = set()
    want = {}
    for i, t in enumerate(texts):
        words = t.strip().split()
        if not words:
            words = [""] if not t.strip() else words
        # mirror split(trim(x), '\s+'): empty/whitespace text -> ['']
        if not t.strip():
            words = [""]
        segs = [
            " ".join(words[j : j + w]) for j in range(0, len(words), w)
        ] or [""]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        want[i] = (len(kept), " ".join(kept))
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_dedup_substring_matches_reference_coverage(spark, docs):
    """Reference semantics: a token position is covered iff some L-gram
    through it occurs at ≥2 positions corpus-wide; spans are maximal
    runs of covered positions. The operator's gaps-and-islands output
    must equal this direct NumPy-style recomputation for ANY corpus —
    small alphabet makes collisions dense and adversarial."""
    from collections import Counter

    from vedb_gaze_spark.operators.corpus import dedup_substring

    L = 3
    counts = Counter()
    for toks in docs:
        for i in range(len(toks) - L + 1):
            counts[tuple(toks[i : i + L])] += 1
    want = set()
    for doc_id, toks in enumerate(docs):
        covered = set()
        for i in range(len(toks) - L + 1):
            if counts[tuple(toks[i : i + L])] >= 2:
                covered.update(range(i, i + L))
        for pos in sorted(covered):
            if pos - 1 not in covered:
                end = pos
                while end + 1 in covered:
                    end += 1
                want.add((doc_id, pos, end, end - pos + 1))
    df = spark.createDataFrame(
        [(i, " ".join(t) if t else None) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup_substring(df, min_len=L).collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ABCDEFGH", min_size=0, max_size=60),
        min_size=2,
        max_size=8,
    )
)
def test_phash_dedup_matches_reference_hamming(spark, texts):
    """Reference semantics: dHash over the 16 evenly-spaced sampled
    bytes, ring comparison; every pair within Hamming ≤ 2 must be
    emitted with its true distance (band-pair recall is exact for
    r ≤ bands − 2), and nothing else."""
    from vedb_gaze_spark.operators.multimodal import multimodal_phash_dedup

    bits = 16

    def ph(s):
        n = len(s)
        samples = [ord(s[(i * n) // bits]) for i in range(bits)]
        return sum(
            1 << i
            for i in range(bits)
            if samples[i] > samples[(i + 1) % bits]
        )
    hashes = {i: ph(t) for i, t in enumerate(texts) if len(t) > 0}
    want = set()
    ids = sorted(hashes)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            h = bin(hashes[a] ^ hashes[b]).count("1")
            if h <= 2:
                want.add((a, b, h))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in multimodal_phash_dedup(df).collect()
    }
    assert got == want


# --- interval_join (operators/temporal.py) --------------------------------


class TestIntervalJoin:
    def _run(self, spark, points, intervals, w_s):
        from pyspark.sql import Row
        from vedb_gaze_spark.operators.temporal import interval_join
        import datetime as dt

        def ts(us):
            return dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=us)

        pdf = spark.createDataFrame(
            [Row(event_id=i, ts=ts(us), user_id=u, event_type=t)
             for i, (us, u, t) in enumerate(points)]
        )
        base = int(dt.datetime(2024, 1, 1)
                   .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        idf = spark.createDataFrame(
            [Row(incident_id=j, t0_us=base + us)
             for j, us in enumerate(intervals)]
        )
        return sorted(
            (r["incident_id"], r["event_id"], r["lag_us"])
            for r in interval_join(pdf, idf, w_s).collect()
        )

    def test_half_open_boundaries(self, spark):
        w = 10.0  # 10 s window, bucket = window
        W = 10_000_000
        # interval starts at 5 s; points at 4.999999, 5.0, 14.999999, 15.0
        got = self._run(
            spark,
            points=[(4_999_999, 1, "view"), (5_000_000, 1, "view"),
                    (14_999_999, 1, "view"), (15_000_000, 1, "view")],
            intervals=[5_000_000],
            w_s=w,
        )
        assert got == [(0, 1, 0), (0, 2, 9_999_999)]

    def test_interval_spanning_bucket_boundary_matches_once(self, spark):
        # interval [15, 25) spans buckets 1 and 2 (width 10): a point in
        # each bucket matches exactly once, nothing duplicated
        got = self._run(
            spark,
            points=[(16_000_000, 1, "view"), (24_000_000, 2, "click"),
                    (26_000_000, 3, "view")],
            intervals=[15_000_000],
            w_s=10.0,
        )
        assert got == [(0, 0, 1_000_000), (0, 1, 9_000_000)]

    def test_overlapping_intervals_each_match(self, spark):
        got = self._run(
            spark,
            points=[(7_000_000, 1, "view")],
            intervals=[0, 5_000_000],
            w_s=10.0,
        )
        assert got == [(0, 0, 7_000_000), (1, 0, 2_000_000)]

    def test_no_nested_loop_join(self, spark, sf_dir):
        from vedb_gaze_spark.operators.temporal import incident_window_stats
        from vedb_gaze_spark.sources.tables import load_table

        plan = (
            incident_window_stats(load_table(spark, "events", sf_dir))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


# --- trade_pagerank (operators/graph.py) ----------------------------------


class TestPagerank:
    def test_matches_reference_on_planted_star(self, spark):
        """Star graph: hub rank must dominate, and every value must equal
        an independent integer-recurrence reference."""
        from pyspark.sql import Row
        from vedb_gaze_spark.operators import graph

        # hub node 0 connected to 1..5 (symmetric)
        e0 = [(0, i) for i in range(1, 6)]
        edges = spark.createDataFrame(
            [Row(s=a, d=b) for a, b in e0] + [Row(s=b, d=a) for a, b in e0]
        )
        got = {r["n"]: r["r"] for r in graph.pagerank(edges).collect()}

        deg = {0: 5, **{i: 1 for i in range(1, 6)}}
        r = {n: 1_000_000 for n in deg}
        for _ in range(graph.PR_ITERS):
            contrib = {n: r[n] // deg[n] for n in deg}
            nxt = {}
            for n in deg:
                inc = (
                    sum(contrib[i] for i in range(1, 6))
                    if n == 0
                    else contrib[0]
                )
                nxt[n] = 150_000 + (85 * inc) // 100
            r = nxt
        assert got == r
        assert got[0] > max(got[i] for i in range(1, 6))

    @pytest.mark.parametrize("face", ["trade_pagerank", "trade_hits"])
    def test_integer_rank_is_partitioning_invariant(self, spark, sf_dir, face):
        """The integer recurrence must yield byte-identical scores under a
        different shuffle layout (the order-independence claim)."""
        from vedb_gaze_spark.operators import graph
        from vedb_gaze_spark.sources.tables import load_table

        li = load_table(spark, "lineitem", sf_dir)
        od = load_table(spark, "orders", sf_dir)
        fn = getattr(graph, face)
        a = {tuple(r) for r in fn(li, od).collect()}
        b = {tuple(r) for r in fn(li.repartition(3), od.repartition(5)).collect()}
        assert a == b

    def test_rank_join_is_sort_merge_not_broadcast(self, spark, sf_dir):
        """r15: the per-iteration rank join must NOT broadcast the rank
        table (ten sequential broadcast builds were the job floor; and
        at 100 TB node counts broadcast is impossible anyway). The
        returned ranks are a checkpoint scan, so pin one round: over
        checkpointed inputs its only join is the rank join, and the
        executed (final adaptive) plan must run it as a SortMergeJoin."""
        from vedb_gaze_spark.operators import graph
        from vedb_gaze_spark.sources.tables import load_table

        edges = graph.trade_edges(
            load_table(spark, "lineitem", sf_dir),
            load_table(spark, "orders", sf_dir),
        )
        deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        ed = edges.join(deg, "s").localCheckpoint()
        ranks = deg.select(
            F.col("s").alias("n"), F.lit(graph.PR_R0).cast("long").alias("r")
        ).localCheckpoint()
        df = graph._pr_round(ed, ranks)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan


class TestHitsShapes:
    def test_no_window_in_executed_plan(self, spark, sf_dir, job_group_run):
        """One HITS shape at every scale: max-normalization is a 1-row
        max attached by broadcast, never a global Window (whose
        single-partition exchange carries a node-sized table). Checked
        on every stage the call ran, plan construction included: the
        returned plan alone is a checkpoint scan."""
        from vedb_gaze_spark.operators import graph
        from vedb_gaze_spark.sources.tables import load_table

        li = load_table(spark, "lineitem", sf_dir)
        od = load_table(spark, "orders", sf_dir)
        _, stages = job_group_run(lambda: graph.trade_hits(li, od).collect())
        assert stages
        assert not [names for _, names in stages if "Window" in names]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=40), min_size=1,
        max_size=8,
    )
)
def test_gopher_top_word_fold_matches_reference_count(spark, texts):
    """The sorted-array max-run fold (the O(n log n) replacement for the
    O(n^2) distinct x filter form) must equal the straightforward max
    occurrence count for arbitrary token streams, including all-equal,
    all-distinct, and single-token arrays."""
    import re

    from vedb_gaze_spark.operators.filtering import gopher_rules

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["top_word_frac"], r["n_words"])
        for r in gopher_rules(docs).collect()
    }
    import math

    for i, t in enumerate(texts):
        toks = re.findall(r"[a-z0-9]+", t.lower())
        if not toks:
            assert i not in got
            continue
        top = max(toks.count(x) for x in set(toks))
        want = math.floor(top / len(toks) * 1e6 + 0.5) / 1e6
        assert got[i][0] == want, (t, toks)


def test_bloom_decontaminate_partitioning_invariant(spark, sf_dir):
    """Bloom flags (false positives included) are a pure function of the
    data — a different shuffle layout must produce byte-identical
    (doc_id, n_flagged) rows."""
    from vedb_gaze_spark.operators.corpus import bloom_decontaminate
    from vedb_gaze_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    a = {tuple(r) for r in bloom_decontaminate(docs).collect()}
    b = {
        tuple(r)
        for r in bloom_decontaminate(docs.repartition(7)).collect()
    }
    assert a == b and len(a) > 0


def test_value_anomalies_partitioning_invariant(spark, sf_dir):
    """The rolling z-score is a deterministic double expression over
    order-independent window integers: identical rows under a different
    partitioning of the events table."""
    from vedb_gaze_spark.operators.analytics import value_anomalies
    from vedb_gaze_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    a = {tuple(r) for r in value_anomalies(ev).collect()}
    b = {tuple(r) for r in value_anomalies(ev.repartition(11)).collect()}
    assert a == b and len(a) > 0


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**12 - 1), min_size=1, max_size=24
    )
)
@settings(max_examples=60, deadline=None)
def test_label_components_equals_reference_bfs(rows):
    """_label_components (iterative min-label propagation, the frame
    detector's kernel) must produce exactly the 4-connected components
    a reference BFS flood fill finds on arbitrary masks — same pixel
    partition, and each component labeled by its minimum pixel index."""
    import numpy as np

    from vedb_gaze_spark.operators.multimodal import _label_components

    mask = np.array(
        [[(r >> j) & 1 == 1 for j in range(12)] for r in rows], dtype=bool
    )
    lab = _label_components(mask)
    # background stays zero; foreground labels are min-pixel-index + 1
    assert np.all((lab > 0) == mask)

    # reference: BFS flood fill
    h, w = mask.shape
    seen = np.zeros_like(mask)
    comps = {}
    for i in range(h):
        for j in range(w):
            if mask[i, j] and not seen[i, j]:
                stack, px = [(i, j)], []
                seen[i, j] = True
                while stack:
                    y, x = stack.pop()
                    px.append((y, x))
                    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        ny, nx = y + dy, x + dx
                        if (
                            0 <= ny < h and 0 <= nx < w
                            and mask[ny, nx] and not seen[ny, nx]
                        ):
                            seen[ny, nx] = True
                            stack.append((ny, nx))
                ref_label = min(y * w + x for y, x in px) + 1
                for y, x in px:
                    comps[(y, x)] = ref_label
    got = {
        (i, j): int(lab[i, j])
        for i in range(h)
        for j in range(w)
        if mask[i, j]
    }
    assert got == comps


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cx=st.floats(min_value=-50, max_value=250),
    cy=st.floats(min_value=-50, max_value=250),
    sa=st.floats(min_value=3.0, max_value=80.0),
    ratio=st.floats(min_value=0.15, max_value=1.0),
    ang=st.floats(min_value=-90.0, max_value=90.0),
    n=st.integers(min_value=7, max_value=60),
    phase=st.floats(min_value=0.0, max_value=6.28),
)
def test_direct_ellipse_fit_is_exact_on_any_analytic_ellipse(
    cx, cy, sa, ratio, ang, n, phase
):
    """The direct LSQ ellipse fit (pupil_edge.py, Halir-Flusser) must
    recover ANY analytic ellipse exactly from >=7 noiseless outline
    points — center/axes to 1e-4 absolute, angle to 0.1 deg (mod 180,
    skipped near circularity where orientation is undefined). No-noise
    exactness is the property that makes the refinement trustworthy:
    errors can then only come from the edge detector, never the fit."""
    import numpy as np

    from vedb_gaze_spark.operators.pupil_edge import (
        conic_to_ellipse,
        fit_ellipse_direct,
    )

    sb = sa * ratio
    th = np.radians(ang)
    t = phase + np.arange(n) * (2 * np.pi / n)
    x = cx + sa * np.cos(t) * np.cos(th) - sb * np.sin(t) * np.sin(th)
    y = cy + sa * np.cos(t) * np.sin(th) + sb * np.sin(t) * np.cos(th)
    got = conic_to_ellipse(fit_ellipse_direct(x, y))
    assert got is not None
    gx, gy, gmaj, gmin, gang = got
    assert abs(gx - cx) < 1e-4 and abs(gy - cy) < 1e-4
    assert abs(gmaj - 2 * sa) < 1e-3 * max(1.0, sa)
    assert abs(gmin - 2 * sb) < 1e-3 * max(1.0, sa)
    if ratio < 0.97:  # orientation defined
        d = abs(gang - ang) % 180.0
        assert min(d, 180.0 - d) < 0.1, (gang, ang)

