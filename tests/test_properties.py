"""Property-based tests (SURVEY §5 tier 4): parser round-trips and
permutation invariance of dedup / rolling windows.

Each Hypothesis example set is batched into one DataFrame so the number of
Spark jobs stays small.
"""

import pytest
import datetime as dt
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cerebro_spark.functions.parsers import flatten_json_dynamic, parse_thermistor
from cerebro_spark.operators.timeops import dedup_by_time, rolling_by_time

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# -- nested JSON flatten: arbitrary nesting, lists dropped at any depth ------

scalars = st.one_of(
    st.integers(-1000, 1000),
    st.floats(-1e6, 1e6, allow_nan=False),
    st.text("abcxyz", min_size=0, max_size=6),
    st.booleans(),
)
keys = st.text("abcdefgh", min_size=1, max_size=5)
nested = st.recursive(
    st.dictionaries(keys, st.one_of(scalars, st.lists(scalars, max_size=3)), max_size=4),
    lambda children: st.dictionaries(keys, st.one_of(scalars, children), max_size=4),
    max_leaves=12,
)


def _expected_flat(d, parent=""):
    out = {}
    for k, v in d.items():
        if isinstance(v, list):
            continue
        key = f"{parent}.{k}" if parent else k
        if isinstance(v, dict):
            out.update(_expected_flat(v, key))
        else:
            out[key] = v
    return out


@settings(**SETTINGS)
@given(st.lists(nested, min_size=1, max_size=8))
def test_flatten_property(spark, cases):
    df = spark.createDataFrame(
        [(i, json.dumps(c)) for i, c in enumerate(cases)], ["i", "body"]
    )
    rows = {r["i"]: r for r in flatten_json_dynamic(df, "body").collect()}
    for i, c in enumerate(cases):
        got = dict(rows[i]["fields"] or {})
        got.update(rows[i]["fields_str"] or {})
        got.update(rows[i]["fields_bool"] or {})
        exp = {
            k: (float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v)
            for k, v in _expected_flat(c).items()
        }
        exp = {k: (str(v) if not isinstance(v, (float, bool)) else v) for k, v in exp.items()}
        got = {k: (str(v) if not isinstance(v, (float, bool)) else v) for k, v in got.items()}
        assert got == exp


# -- thermistor: mask → reply line → parse == bits of mask -------------------

@settings(**SETTINGS)
@given(st.lists(st.integers(0, 0xFFFF), min_size=1, max_size=16))
def test_thermistor_roundtrip(spark, masks):
    df = spark.createDataFrame(
        [(m, f"!01{m:04X}\r") for m in masks], ["mask", "reply"]
    )
    out = parse_thermistor(df).collect()
    assert len(out) == 16 * len(masks)
    # multiset of produced bits per channel must match the masks' bits
    from collections import Counter

    got = Counter(
        (list(r["fields"].keys())[0], list(r["fields"].values())[0]) for r in out
    )
    exp = Counter()
    for m in masks:
        for ch in range(16):
            exp[(f"channel{ch}", float((m >> ch) & 1))] += 1
    assert got == exp


# -- dedup: permutation invariance with deterministic tiebreak ---------------

@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 1_000_000), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    st.randoms(),
)
def test_dedup_permutation_invariant(spark, rows, rnd):
    base = dt.datetime(2024, 1, 1)
    data = [(base + dt.timedelta(seconds=k), i, v) for k, i, v in rows]
    shuffled = list(data)
    rnd.shuffle(shuffled)
    a = dedup_by_time(
        spark.createDataFrame(data, ["ts", "id", "v"]), "ts", tiebreak="id"
    ).collect()
    b = dedup_by_time(
        spark.createDataFrame(shuffled, ["ts", "id", "v"]), "ts", tiebreak="id"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # survivor is min-id per ts
    expect = {}
    for ts, i, v in data:
        if ts not in expect or i < expect[ts][1]:
            expect[ts] = (ts, i, v)
    assert sorted(map(tuple, a)) == sorted(expect.values())


# -- rolling windows: input order must not matter ----------------------------

@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 7200), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.randoms(),
)
def test_rolling_permutation_invariant(spark, rows, rnd):
    base = dt.datetime(2024, 1, 1)
    data = [(base + dt.timedelta(seconds=s), v) for s, v in rows]
    shuffled = list(data)
    rnd.shuffle(shuffled)
    specs = {"a": ("avg", "v", 300), "m": ("max", "v", 600)}
    a = rolling_by_time(spark.createDataFrame(data, ["ts", "v"]), specs, "ts")
    b = rolling_by_time(spark.createDataFrame(shuffled, ["ts", "v"]), specs, "ts")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


# -- connected components vs a reference union-find --------------------------

def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min member id
    label = {}
    for n in nodes:
        r = find(n)
        label.setdefault(r, min(m for m in nodes if find(m) == r))
    return {n: label[find(n)] for n in nodes}


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from cerebro_spark.operators.cluster import connected_components

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    nodes = sorted({x for e in real for x in e})
    want = _uf_components(real, nodes)
    df = spark.createDataFrame(real, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


# -- chunk dedup: conservation and idempotence -------------------------------

doc_words = st.lists(
    st.text("abcde", min_size=1, max_size=3), min_size=1, max_size=40
)


@settings(**SETTINGS)
@given(st.lists(doc_words, min_size=1, max_size=8))
def test_dedup_chunks_conservation(spark, docs):
    """Every chunk occurrence is either kept exactly once per distinct
    chunk text (at its first occurrence) or dropped; kept text re-splits
    into the original chunk tokens."""
    from cerebro_spark.operators.text import dedup_chunks

    from pyspark.sql import Row

    rows = [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs)]
    out = dedup_chunks(
        spark.createDataFrame(rows), chunk_tokens=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == set(range(len(docs)))

    # expected: first occurrence per chunk text in (doc_id, chunk_idx) order
    seen: set[str] = set()
    expect_kept: dict[int, list[str]] = {i: [] for i in range(len(docs))}
    for i, w in enumerate(docs):
        for c in range(0, len(w), 4):
            chunk = " ".join(w[c : c + 4])
            if chunk not in seen:
                seen.add(chunk)
                expect_kept[i].append(chunk)
    for i, w in enumerate(docs):
        r = by_id[i]
        assert r["n_chunks"] == (len(w) + 3) // 4
        assert r["text_kept"] == " ".join(expect_kept[i])
        assert r["n_kept"] == len(expect_kept[i])
    # total kept chunks across the corpus == distinct chunk count
    assert sum(r["n_kept"] for r in out) == len(seen)


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True))
def test_epoch_shuffle_is_permutation(spark, ids):
    """epoch_shuffle assigns every id exactly one (shard, pos) with
    contiguous positions per shard — a permutation, nothing lost."""
    from cerebro_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = epoch_shuffle(df, epoch=3, num_shards=4).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(ids)
    per_shard: dict[int, list[int]] = {}
    for r in out:
        per_shard.setdefault(r["shard"], []).append(r["pos"])
    for poss in per_shard.values():
        assert sorted(poss) == list(range(len(poss)))


# -- winnowing: the (w + k - 1)-guarantee on random docs ----------------------

@settings(**SETTINGS)
@given(
    st.lists(st.integers(0, 30), min_size=10, max_size=40),
    st.lists(st.integers(0, 30), min_size=10, max_size=40),
    st.integers(0, 5),
    st.integers(0, 5),
)
def test_winnow_guarantee_property(spark, a_toks, b_toks, off_a, off_b):
    """Two random docs sharing an injected 7-token run (w + k - 1 for
    k=w=4) at arbitrary offsets must share >= 1 fingerprint; the winnowed
    set is always a subset of the doc's own k-gram hash set."""
    from cerebro_spark.operators.dedup import _portable_token_hash, winnow_fingerprints

    run = [f"shared{i}" for i in range(7)]
    a = [f"t{x}" for x in a_toks]
    b = [f"u{x}" for x in b_toks]
    a_full = a[: off_a % (len(a) + 1)] + run + a[off_a % (len(a) + 1):]
    b_full = b[: off_b % (len(b) + 1)] + run + b[off_b % (len(b) + 1):]
    df = spark.createDataFrame(
        [(1, " ".join(a_full)), (2, " ".join(b_full))],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=4, w=4).collect()
    got_a = {r["fp"] for r in fps if r["doc_id"] == 1}
    got_b = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert got_a & got_b
    # subset property vs the full k-gram hash set
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 4),
        lambda i: _portable_token_hash(
            F.array_join(F.slice(toks, (i + 1).cast("int"), 4), " "), 15
        ),
    )
    allg = {
        (r["doc_id"], g)
        for r in df.select("doc_id", grams.alias("g")).collect()
        for g in r["g"]
    }
    assert {(r["doc_id"], r["fp"]) for r in fps} <= allg


# -- top_k_ranked ≡ orderBy().collect() prefix, including null/NaN keys ------

@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(-1e3, 1e3, allow_nan=False),
            st.just(float("nan")),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_top_k_ranked_matches_orderby_prefix(spark, vals):
    from cerebro_spark.operators.util import top_k_ranked

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    k = 5
    got = [
        r["id"]
        for r in top_k_ranked(df, [("v", "desc"), ("id", "asc")], k=k)
        .orderBy("rank")
        .collect()
    ]
    want = [
        r["id"]
        for r in df.orderBy(F.col("v").desc(), F.col("id").asc())
        .limit(k)
        .collect()
    ]
    assert got == want


# -- z-order rewrite is a pure permutation of the input ----------------------

@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 50), st.floats(0, 100, allow_nan=False)),
        min_size=2,
        max_size=40,
        unique=True,
    )
)
@pytest.mark.slow
@settings(**SETTINGS)
def test_zorder_is_permutation(spark, pairs, tmp_path_factory):
    from cerebro_spark.io import write_zordered

    tmp = str(tmp_path_factory.mktemp("z"))
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "id long, a long, b double")
    write_zordered(df, tmp, ["a", "b"], target_files=4, bits=4)
    back = spark.read.parquet(tmp)
    assert sorted(r["id"] for r in back.collect()) == [r[0] for r in rows]
    assert back.columns == ["id", "a", "b"]  # helper column dropped


# -- asof_join ≡ pandas merge_asof on random per-key series ------------------

@given(
    lts=st.lists(st.integers(0, 300), min_size=1, max_size=15),
    rts=st.lists(st.integers(0, 300), min_size=1, max_size=15),
    seed=st.integers(0, 3),
)
@pytest.mark.slow
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, lts, rts, seed):
    import datetime as dt

    import pandas as pd

    from cerebro_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, seed % 2, t0 + dt.timedelta(seconds=s)) for i, s in enumerate(lts)
    ]
    right_rows = [
        (seed % 2, t0 + dt.timedelta(seconds=s), float(i))
        for i, s in enumerate(sorted(set(rts)))  # unique right ts per key
    ]
    left = spark.createDataFrame(left_rows, "lid long, k long, ts timestamp")
    right = spark.createDataFrame(right_rows, "k long, ts timestamp, v double")
    lp = pd.DataFrame(left_rows, columns=["lid", "k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts")
    for direction in ("backward", "forward", "nearest"):
        got = {
            r["lid"]: r["v_right"]
            for r in asof_join(
                left, right, "ts", by=["k"], direction=direction
            ).collect()
        }
        want_df = pd.merge_asof(
            lp, rp, on="ts", by="k", direction=direction
        )
        want = {
            int(r.lid): (None if pd.isna(r.v) else float(r.v))
            for r in want_df.itertuples()
        }
        assert got == want, f"direction={direction}"


# -- keyless CUSUM closed form vs the textbook recurrence --------------------
#
# The distributed plan computes S_i = P_i - min(0, min_{j<=i} P_j) via a
# two-level bucketed scan (tsdb.cusum keyless branch); the ground truth is
# the sequential Page recurrence S_i = max(0, S_{i-1} + (x_i - mu - k*sigma)).
# Random hour-spaced timestamps cross the 86400 s carry buckets, duplicate
# timestamps exercise the tiebreak, and values quantize to e2 like the
# operator's fixed-point baseline assumes.


@given(
    st.lists(
        st.tuples(
            st.integers(0, 400),  # hour offset (spans ~17 day-buckets)
            st.integers(-2000, 2000),  # value in e2 fixed point
        ),
        min_size=2,
        max_size=120,
    )
)
@pytest.mark.slow
@settings(**SETTINGS)
def test_keyless_cusum_matches_textbook_recurrence(spark, rows):
    from cerebro_spark.operators.tsdb import cusum

    data = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), e2 / 100.0)
        for i, (h, e2) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["id", "ts", "v"])
    got = {
        r["id"]: r["cusum"]
        for r in cusum(df, "v", "ts", keys=[], tiebreak=["id"]).collect()
    }

    # textbook reference, with the operator's exact fixed-point baseline
    n = len(data)
    s1 = sum(round(v * 100) for _, _, v in data)
    s2 = sum(round(v * 100) ** 2 for _, _, v in data)
    mu = s1 / 100.0 / n
    sigma = (max(s2 / 10000.0 / n - mu * mu, 0.0)) ** 0.5
    s = 0.0
    want = {}
    for i, ts, v in sorted(data, key=lambda r: (r[1], r[0])):
        s = max(0.0, s + (v - mu - 0.5 * sigma))
        want[i] = s

    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) <= 2e-6, (i, got[i], want[i])


@given(
    lts=st.lists(st.integers(0, 400), min_size=1, max_size=15),
    rts=st.lists(st.integers(0, 400), min_size=1, max_size=15),
)
@pytest.mark.slow
@settings(**SETTINGS)
def test_keyless_asof_join_matches_pandas_merge_asof(spark, lts, rts):
    """The KEYLESS as-of path (`joins._keyless_carry`, a per-day-bucket
    two-level carry — not the keyed union-merge window) against pandas
    merge_asof.  Hour-spaced offsets span ~17 day-buckets so carries cross
    bucket boundaries, left-before-any-right rows exercise the null fill."""
    import pandas as pd

    from cerebro_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, t0 + dt.timedelta(hours=h)) for i, h in enumerate(lts)
    ]
    right_rows = [
        (t0 + dt.timedelta(hours=h), float(i))
        for i, h in enumerate(sorted(set(rts)))
    ]
    left = spark.createDataFrame(left_rows, "lid long, ts timestamp")
    right = spark.createDataFrame(right_rows, "ts timestamp, v double")
    lp = pd.DataFrame(left_rows, columns=["lid", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["ts", "v"]).sort_values("ts")
    for direction in ("backward", "forward", "nearest"):
        got = {
            r["lid"]: r["v_right"]
            for r in asof_join(
                left, right, "ts", by=[], direction=direction
            ).collect()
        }
        want_df = pd.merge_asof(lp, rp, on="ts", direction=direction)
        want = {
            int(r.lid): (None if pd.isna(r.v) else float(r.v))
            for r in want_df.itertuples()
        }
        assert got == want, f"direction={direction}"


# -- blocked fuzzy join == brute force restricted to block-equal pairs -------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcx", min_size=0, max_size=6),
            st.sampled_from(["B1", "B2"]),
        ),
        min_size=2,
        max_size=10,
    ),
    st.integers(0, 3),
)
def test_fuzzy_join_blocked_matches_bruteforce(spark, rows, d):
    from cerebro_spark.operators.joins import fuzzy_join_blocked

    data = [(i, name, blk) for i, (name, blk) in enumerate(rows)]
    base = spark.createDataFrame(data, "id long, name string, blk string")
    a = base.select(F.col("id").alias("key_a"), "name", "blk")
    b = base.select(F.col("id").alias("key_b"), "name", "blk")
    got = {
        (r["key_a"], r["key_b"]): r["distance"]
        for r in fuzzy_join_blocked(
            a, b, "name", ["blk"], max_distance=d,
            left_id="key_a", right_id="key_b", dedup_pairs=True,
        ).collect()
    }
    ref = {
        (i, j): _lev(ni, nj)
        for i, ni, bi in data
        for j, nj, bj in data
        if i < j and bi == bj and _lev(ni, nj) <= d
    }
    assert got == ref


# -- triangle participation == brute force on random graphs ------------------


def _triangles_bruteforce(raw_edges) -> dict:
    """Every node triple checked against the undirected simple edge set
    (self-loops dropped, duplicate and reversed edges merged)."""
    from itertools import combinations

    undirected = {
        (min(u, v), max(u, v)) for u, v in raw_edges if u != v
    }
    nodes = {u for e in undirected for u in e}
    ref: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if (
            (a, b) in undirected
            and (b, c) in undirected
            and (a, c) in undirected
        ):
            for x in (a, b, c):
                ref[x] = ref.get(x, 0) + 1
    return ref


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
def test_triangle_participation_matches_bruteforce(spark, raw_edges):
    from cerebro_spark.operators.cluster import triangle_participation

    df = spark.createDataFrame(raw_edges, "src long, dst long")
    got = {
        r["node"]: r["triangles"]
        for r in triangle_participation(df).collect()
    }
    assert got == _triangles_bruteforce(raw_edges)


@st.composite
def _adversarial_graph(draw):
    """Stars (one hub, many leaves: the degree-skew the orientation must
    bound), cliques (every triple a triangle), self-loops, and every edge
    possibly duplicated or reversed, over a small shared node range so
    the shapes overlap."""
    edges = []
    for _ in range(draw(st.integers(0, 2))):  # stars
        hub = draw(st.integers(0, 14))
        leaves = draw(st.lists(st.integers(0, 14), max_size=10))
        edges += [(hub, x) for x in leaves]
    for _ in range(draw(st.integers(0, 2))):  # cliques
        members = draw(st.sets(st.integers(0, 14), min_size=3, max_size=6))
        edges += [(u, v) for u in members for v in members if u < v]
    edges += [(u, u) for u in draw(st.lists(st.integers(0, 14), max_size=3))]
    edges += draw(
        st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)), max_size=8)
    )
    out = []
    for u, v in edges:
        if draw(st.booleans()):
            u, v = v, u
        out += [(u, v)] * draw(st.integers(1, 2))
    return out


@settings(**SETTINGS)
@given(_adversarial_graph())
def test_triangle_participation_adversarial_shapes(spark, raw_edges):
    """Stars, cliques, self-loops, duplicate and reversed edges: the
    adjacency-intersection count equals ``_triangles_bruteforce``."""
    from cerebro_spark.operators.cluster import triangle_participation

    df = spark.createDataFrame(raw_edges, "src long, dst long")
    got = {
        r["node"]: r["triangles"]
        for r in triangle_participation(df).collect()
    }
    assert got == _triangles_bruteforce(raw_edges)


# -- window_funnel vs a Python reference of the anchored-greedy semantics ----


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),             # user
            st.integers(0, 120),           # seconds offset
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=0,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_window_funnel_matches_python_reference(spark, events):
    from cerebro_spark.operators.timeops import window_funnel

    window_s = 60
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, i, t0 + dt.timedelta(seconds=s), e)
        for i, (u, s, e) in enumerate(events)
    ]

    def reference():
        out = {}
        by_user = {}
        for u, eid, ts, e in rows:
            by_user.setdefault(u, []).append((ts, eid, e))
        for u, evs in by_user.items():
            evs.sort()
            t1 = next((ts for ts, _, e in evs if e == "view"), None)
            if t1 is None:
                continue
            limit = t1 + dt.timedelta(seconds=window_s)
            t2 = next(
                (ts for ts, _, e in evs if e == "click" and t1 < ts <= limit),
                None,
            )
            t3 = (
                next(
                    (ts for ts, _, e in evs
                     if e == "purchase" and t2 < ts <= limit),
                    None,
                )
                if t2 is not None
                else None
            )
            out[u] = 3 if t3 else 2 if t2 else 1
        return out

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {
        r["user_id"]: r["level"]
        for r in window_funnel(
            df,
            [
                F.col("event_type") == "view",
                F.col("event_type") == "click",
                F.col("event_type") == "purchase",
            ],
            keys=["user_id"],
            window_seconds=window_s,
        ).collect()
    }
    assert got == reference()


# -- theil_sen / mann_kendall vs brute-force references over bucket means ----


@given(
    days=st.lists(
        st.tuples(st.integers(0, 12), st.floats(-100, 100, allow_nan=False)),
        min_size=2,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_trend_estimators_match_bruteforce(spark, days):
    import statistics

    from cerebro_spark.operators.tsdb import mann_kendall, theil_sen

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0 + dt.timedelta(days=d, seconds=i), float(v))
        for i, (d, v) in enumerate(days)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")

    # brute-force reference over the SAME fixed-point bucket means
    buckets = {}
    for (d, v), _ in zip(days, rows):
        buckets.setdefault(d, []).append(
            __import__("math").floor(float(v) * 1e6 + 0.5)
        )
    means = {d: (sum(qs) / len(qs)) / 1e6 for d, qs in buckets.items()}
    ds = sorted(means)
    if len(ds) >= 2:
        slopes = sorted(
            (means[b] - means[a]) / (b - a)
            for i, a in enumerate(ds)
            for b in ds[i + 1:]
        )
        n = len(slopes)
        med = (slopes[(n + 1) // 2 - 1] + slopes[n // 2]) / 2
        out = theil_sen(df, "value", "ts", keys=[]).collect()[0]
        assert out["n_pairs"] == n
        assert abs(out["slope_med"] - med) < 1e-12

        s_ref = sum(
            (means[b] > means[a]) - (means[b] < means[a])
            for i, a in enumerate(ds)
            for b in ds[i + 1:]
        )
        mk = mann_kendall(df, "value", "ts", keys=[]).collect()[0]
        assert mk["s_stat"] == s_ref and mk["n_buckets"] == len(ds)


# -- interval-overlap join: bucket-exploded equi-join == brute force ---------

@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 200)),
        min_size=1, max_size=12,
    ),
    jvs=st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 200)),
        min_size=1, max_size=12,
    ),
    bucket=st.sampled_from([1, 7, 100, 1000]),
)
@settings(**SETTINGS)
def test_interval_overlap_join_matches_bruteforce(spark, ivs, jvs, bucket):
    from cerebro_spark.operators.joins import interval_overlap_join

    left = [(i, s, s + w) for i, (s, w) in enumerate(ivs)]
    right = [(j, s, s + w) for j, (s, w) in enumerate(jvs)]
    ldf = spark.createDataFrame(left, "lid long, ls long, le long")
    rdf = spark.createDataFrame(right, "rid long, rs long, re_ long")
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re_", bucket_seconds=bucket
        ).collect()
    }
    want = {
        (i, j)
        for i, ls, le in left
        for j, rs, re_ in right
        if ls <= re_ and rs <= le
    }
    assert got == want
    # exactly-once: the collected rows equal the distinct pair set
    n_rows = interval_overlap_join(
        ldf, rdf, "ls", "le", "rs", "re_", bucket_seconds=bucket
    ).count()
    assert n_rows == len(want)


# -- winsorized mean: grid-histogram path == numpy-free reference ------------

@given(
    vals=st.lists(
        st.floats(-100, 100, allow_nan=False, allow_infinity=False),
        min_size=1, max_size=60,
    ),
)
@settings(**SETTINGS)
def test_winsorized_mean_matches_reference(spark, vals):
    from cerebro_spark.operators.profile import winsorized_mean

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = winsorized_mean(df, "v").collect()[0]

    # reference: quantize like the operator (floor(v*100 + 0.5), not
    # round-half-even), exact-rank pick, clamp, mean
    import math as m
    q = sorted(m.floor(v * 100 + 0.5) for v in vals)
    n = len(q)
    lo = q[(5 * n + 99) // 100 - 1]
    hi = q[(95 * n + 99) // 100 - 1]
    win = sum(min(max(x, lo), hi) for x in q) / (100.0 * n)
    assert got["n"] == n
    assert got["p_lo"] == lo / 100.0 and got["p_hi"] == hi / 100.0
    assert abs(got["win_mean"] - win) < 1e-12


# -- URL canonicalization: idempotence over adversarial URL-ish strings -----

url_chars = st.text(
    "abXY09-._~/?&=:#%+", min_size=0, max_size=40
)
url_strings = st.one_of(
    url_chars,
    st.builds(
        lambda scheme, host, rest: scheme + host + rest,
        st.sampled_from(["", "http://", "HTTPS://", "ftp://", "x+y://"]),
        st.sampled_from(
            ["WWW.Ex-1.COM", "a.co.uk:8080", "localhost", "x.org", ""]
        ),
        url_chars,
    ),
)


@given(st.lists(url_strings, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_canonicalize_url_idempotent_property(spark, urls):
    """canonicalize(canonicalize(u)) == canonicalize(u) for arbitrary
    URL-alphabet strings (schemes, ports, fragments, tracking params,
    stray separators) — the property that makes the dedup KEY stable
    under re-ingestion of an already-canonical crawl.  Also: the result
    never retains a fragment, its PATH part never ends in '/', and it
    never ends in '?' (query-internal characters — including '/' and a
    trailing path '&' — are opaque page identity and stay untouched)."""
    from cerebro_spark.operators.text import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    out = df.select(
        canonicalize_url(F.col("u")).alias("c1")
    ).select("c1", canonicalize_url(F.col("c1")).alias("c2"))
    for r in out.collect():
        assert r["c2"] == r["c1"]
        assert "#" not in r["c1"]
        assert not r["c1"].split("?", 1)[0].endswith("/")
        assert not r["c1"].endswith("?")


# -- r9 multimodal: codec round-trips and hash invariances (pure Python — no
#    Spark jobs, so these afford many examples) -------------------------------

import numpy as np  # noqa: E402

from cerebro_spark.operators.multimodal import (  # noqa: E402
    audio_fingerprint_pcm,
    decode_audio_pcm,
    decode_image_gray,
    decode_video_frames,
    dhash_from_gray,
    encode_avi_gray,
    encode_bmp_gray,
    encode_wav_pcm16,
)

PURE = dict(max_examples=30, deadline=None)


@settings(**PURE)
@given(
    st.integers(1, 12), st.integers(1, 40),
    st.integers(0, 2**32 - 1),
)
def test_bmp_roundtrip_property(h, w, seed):
    g = np.random.RandomState(seed % 2**31).randint(0, 256, (h, w)).astype(np.uint8)
    assert np.array_equal(decode_image_gray(encode_bmp_gray(g)), g)


@settings(**PURE)
@given(st.integers(0, 2**31 - 1), st.integers(1, 50))
def test_dhash_brightness_shift_never_flips_a_bit(seed, shift):
    g = np.random.RandomState(seed).randint(0, 200, (17, 23)).astype(np.uint8)
    shifted = np.minimum(g.astype(np.int64) + shift, 255).astype(np.uint8)
    if shifted.max() - g.max() == shift and (shifted - g).min() == shift:
        # uniform shift (no clipping hit) -> hash provably identical
        assert dhash_from_gray(g) == dhash_from_gray(shifted)


@settings(**PURE)
@given(
    st.lists(st.integers(-32768, 32767), min_size=1, max_size=300),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_pcm16_roundtrip_property(samples, sr):
    dec, got_sr = decode_audio_pcm(encode_wav_pcm16(np.array(samples), sr))
    assert got_sr == sr and dec.tolist() == samples


@settings(**PURE)
@given(
    st.lists(st.integers(-10000, 10000), min_size=2, max_size=200),
    st.integers(2, 3),
)
def test_audio_fingerprint_gain_invariance_property(samples, gain):
    x = np.array(samples, dtype=np.int64)
    assert audio_fingerprint_pcm(x) == audio_fingerprint_pcm(x * gain)


@settings(**PURE)
@given(st.integers(1, 6), st.integers(1, 5), st.integers(0, 2**31 - 1))
def test_avi_roundtrip_property(h2, nframes, seed):
    rng = np.random.RandomState(seed)
    frames = [rng.randint(0, 256, (h2, 8)).astype(np.uint8) for _ in range(nframes)]
    dec = decode_video_frames(encode_avi_gray(frames, fps=2), every_ms=500)
    assert len(dec) == nframes
    assert all(np.array_equal(g, frames[i]) for i, (_, g) in enumerate(dec))


# -- CerebroClient vs a brute force over a date-partitioned path store ------


_CLIENT_DAY = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
_CLIENT_FIELDS = ["a", "b", "c"]


def _client_expected(pts, m, field, t0, t1, window):
    """What ``CerebroClient.query`` returns, from plain Python: {epoch
    seconds: {column: candidates}} where candidates is a set of acceptable
    values (several when points of two tag sets share a time and the raw
    pivot keeps either), plus the column names.

    - a concrete field keeps points whose value is not null; field=None
      keeps every map entry, so a field only ever null still gets a column
      and its window a count of 0;
    - a window groups by floor(epoch / every) * every; a field absent from
      a window reads null there."""
    rows = [
        (int(t.timestamp()), f) for mm, t, f in pts if mm == m and t0 <= t < t1
    ]
    entries = [
        (ts, k, v) for ts, f in rows for k, v in f.items()
        if field is None or (k == field and v is not None)
    ]
    names = [field] if field else sorted({k for _, k, _ in entries})
    groups = {}
    for ts, k, v in entries:
        key = ts - ts % window[0] if window else ts
        groups.setdefault(key, {}).setdefault(k, []).append(v)
    out = {}
    for key, by_field in groups.items():
        out[key] = {}
        for n in names:
            vals = by_field.get(n)
            nn = [v for v in vals or [] if v is not None]
            if window is None:
                out[key][n] = set(nn) or {None}
            elif vals is None:
                out[key][n] = {None}
            elif window[1] == "count":
                out[key][n] = {len(nn)}
            elif not nn:
                out[key][n] = {None}
            else:
                out[key][n] = {max(nn) if window[1] == "max" else sum(nn) / len(nn)}
    return names, out


def _client_matches(got, names, want) -> bool:
    if got.columns != ["time", *names]:
        return False
    rows = got.collect()
    if sorted(int(r["time"].timestamp()) for r in rows) != sorted(want):
        return False
    for r in rows:
        cells = want[int(r["time"].timestamp())]
        for n in names:
            v, ok = r[n], cells[n]
            if v is None or None in ok:
                if not (v is None and None in ok):
                    return False
            elif not any(w is not None and abs(v - w) <= 1e-9 * max(1.0, abs(w)) for w in ok):
                return False
    return True


@settings(**SETTINGS)
@given(
    points=st.lists(
        st.tuples(
            st.sampled_from(["m", "n"]),
            st.sampled_from(["x", "y"]),          # tag set: times may repeat
            st.integers(0, 3 * 24 * 4 - 1),       # quarter hour within 3 days
            st.dictionaries(
                st.sampled_from(_CLIENT_FIELDS),
                st.one_of(st.none(), st.integers(-50, 50).map(float)),
                max_size=3,                        # empty maps and nulls too
            ),
        ),
        min_size=1,
        max_size=40,
    ),
    start=st.integers(0, 3 * 24 * 4),
    length=st.sampled_from([0, 1, 4, 30, 96, 200]),   # quarter hours
    days=st.tuples(st.integers(0, 3), st.integers(0, 3)),
    fns=st.tuples(*[st.sampled_from(["avg", "count", "max"])] * 3),
)
def test_client_matches_bruteforce_on_partitioned_store(
    spark, tmp_path_factory, points, start, length, days, fns
):
    from cerebro_spark.operators.rollup import rollup_points_daily
    from cerebro_spark.plans.client import CerebroClient
    from cerebro_spark.schema import POINT_SCHEMA

    quarter = dt.timedelta(minutes=15)
    points = [*points, ("n", "x", 0, {"a": 1.0})]  # the rollup is never empty
    pts = [(m, _CLIENT_DAY + q * quarter, f) for m, _, q, f in points]
    df = spark.createDataFrame(
        [(m, {"d": d}, f, None, None, _CLIENT_DAY + q * quarter, "b")
         for m, d, q, f in points],
        POINT_SCHEMA,
    )
    root = tmp_path_factory.mktemp("client_store")
    store, roll = str(root / "store"), str(root / "roll")
    df.withColumn("date", F.to_date("time")).write.partitionBy("bucket", "date").parquet(store)
    rollup_points_daily(df).write.partitionBy("bucket", "date").parquet(roll)
    plain = CerebroClient(spark, {"b": store})
    rolled = CerebroClient(spark, {"b": store})
    rolled.register_rollup("b", roll)

    def naive(t):
        return t.replace(tzinfo=None)

    # a quarter-hour range (crosses midnight, or is empty when length is 0)
    t0 = _CLIENT_DAY + start * quarter
    t1 = t0 + length * quarter
    cases = [
        (plain, "a", t0, t1, None),
        (plain, None, t0, t1, None),
        (plain, "b", t0, t1, (3600, fns[0])),
        (plain, None, t0, t1, (3 * 3600, fns[1])),
    ]
    # a day-aligned range: the rollup serves it, the plain client scans
    d0, d1 = sorted(days)
    d0, d1 = _CLIENT_DAY + dt.timedelta(days=d0), _CLIENT_DAY + dt.timedelta(days=d1)
    for client in (plain, rolled):
        cases += [
            (client, "a", d0, d1, (86400, fns[2])),
            (client, None, d0, d1, (86400, fns[2])),
        ]
    for client, field, lo, hi, window in cases:
        got = client.query(
            "b", "m", field=field, start=naive(lo), end=naive(hi), aggregate_window=window
        )
        names, want = _client_expected(pts, "m", field, lo, hi, window)
        assert _client_matches(got, names, want), (client is rolled, field, lo, hi, window)
