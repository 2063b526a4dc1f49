"""Tests for the scale-bench tooling: the full-table sf-multiplier
generator (tools/gen_sf.py) — the whole-registry sf1 measurement rests
on this generator preserving referential structure and growing every
table linearly, so those properties are pinned here."""

from __future__ import annotations

import importlib
import subprocess
import sys
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

MULT = 2


@pytest.fixture(scope="module")
def gen_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gensf") / f"x{MULT}")
    subprocess.run(
        [sys.executable, "tools/gen_sf.py", out, str(MULT)],
        check=True,
        cwd="/root/repo",
        capture_output=True,
    )
    return out


def test_gen_sf_row_counts_scale_linearly(gen_dir):
    src = "/root/testdata/sf0.1"
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events"):
        n0 = pq.read_metadata(f"{src}/{t}.parquet").num_rows
        n1 = pq.read_metadata(f"{gen_dir}/{t}.parquet").num_rows
        assert n1 == MULT * n0, t
    for t in ("region", "nation"):  # fixed dims, copied
        assert (
            pq.read_metadata(f"{gen_dir}/{t}.parquet").num_rows
            == pq.read_metadata(f"{src}/{t}.parquet").num_rows
        ), t


def test_gen_sf_keys_disjoint_and_joins_preserved(gen_dir):
    """Each replica's keys are disjoint (no accidental collisions that
    would inflate join fan-out), and referential structure holds: every
    lineitem still matches exactly one order, and the per-order line
    count multiset is preserved replica by replica."""
    src = "/root/testdata/sf0.1"
    o0 = pq.read_table(f"{src}/orders.parquet", columns=["o_orderkey"])
    o1 = pq.read_table(f"{gen_dir}/orders.parquet", columns=["o_orderkey"])
    k0 = set(o0["o_orderkey"].to_pylist())
    k1 = o1["o_orderkey"].to_pylist()
    assert len(k1) == len(set(k1))  # replicas disjoint
    l0 = pq.read_table(f"{src}/lineitem.parquet", columns=["l_orderkey"])
    l1 = pq.read_table(f"{gen_dir}/lineitem.parquet", columns=["l_orderkey"])
    assert set(l1["l_orderkey"].to_pylist()) <= set(k1)  # FK closure
    # per-order line-count multiset scales by exactly MULT
    import collections

    c0 = collections.Counter(
        collections.Counter(l0["l_orderkey"].to_pylist()).values()
    )
    c1 = collections.Counter(
        collections.Counter(l1["l_orderkey"].to_pylist()).values()
    )
    assert c1 == {sz: MULT * n for sz, n in c0.items()}


def test_gen_sf_non_key_columns_untouched(gen_dir):
    """Group-by domains must not grow: the replicas share every
    non-key column value-for-value with the source."""
    src = "/root/testdata/sf0.1"
    t0 = pq.read_table(f"{src}/orders.parquet")
    t1 = pq.read_table(f"{gen_dir}/orders.parquet")
    n = t0.num_rows
    for col in ("o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"):
        assert t1[col].slice(0, n).to_pylist() == t0[col].to_pylist(), col
        assert t1[col].slice(n, n).to_pylist() == t0[col].to_pylist(), col
    # key columns shift by exactly max+1 in the second replica
    off = pc.max(t0["o_orderkey"]).as_py() + 1
    assert (
        t1["o_orderkey"].slice(n, 5).to_pylist()
        == [k + off for k in t0["o_orderkey"].slice(0, 5).to_pylist()]
    )


def test_gen_sf_events_user_fk(gen_dir):
    """events.user_id is an FK into customer.c_custkey (the
    streaming_enrich join): every replica's events must reference its
    OWN replica's customers, i.e. user_id and c_custkey shift by the
    same family offset."""
    src = "/root/testdata/sf0.1"
    c0 = pq.read_table(f"{src}/customer.parquet", columns=["c_custkey"])
    e0 = pq.read_table(f"{src}/events.parquet", columns=["user_id"])
    c1 = pq.read_table(f"{gen_dir}/customer.parquet", columns=["c_custkey"])
    e1 = pq.read_table(f"{gen_dir}/events.parquet", columns=["user_id"])
    assert set(e1["user_id"].to_pylist()) <= set(c1["c_custkey"].to_pylist())
    off = pc.max(c0["c_custkey"]).as_py() + 1
    n = e0.num_rows
    assert (
        e1["user_id"].slice(n, 5).to_pylist()
        == [u + off for u in e0["user_id"].slice(0, 5).to_pylist()]
    )


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gensf") / "skew")
    # Flag BEFORE the out_dir: pins the r10 ADVICE fix (--skew was only
    # recognized in argv[2:], so a flag-first call silently became a
    # replica run into a directory named after the flag).
    subprocess.run(
        [sys.executable, "tools/gen_sf.py", "--skew", out],
        check=True,
        cwd="/root/repo",
        capture_output=True,
    )
    return out


def test_gen_sf_rejects_flag_like_out_dir():
    r = subprocess.run(
        [sys.executable, "tools/gen_sf.py", "--bogus"],
        cwd="/root/repo",
        capture_output=True,
        text=True,
    )
    assert r.returncode != 0
    assert "unrecognized flag" in r.stderr
    # r11 review: flag-likes and junk must be rejected ANYWHERE in
    # argv, and --skew takes no multiplier (a silently-dropped one
    # wrote a same-size dir the caller believed was scaled).
    for extra in (["/tmp/x", "--Skew"], ["/tmp/x", "nope"],
                  ["--skew", "/tmp/x", "5"], ["/tmp/x", "5", "6"]):
        r = subprocess.run(
            [sys.executable, "tools/gen_sf.py", *extra],
            cwd="/root/repo",
            capture_output=True,
            text=True,
        )
        assert r.returncode != 0, extra
        assert "usage:" in r.stderr, (extra, r.stderr)


def test_gen_sf_skew_hot_key_and_zipf_tail(skew_dir):
    """The redrawn FK columns carry the promised distribution: ~30%
    point-mass on the smallest dimension key plus a Zipf tail (the
    top-10 keys own a majority of the fact rows), row counts
    unchanged."""
    from tools.gen_sf import SKEW_FKS, SKEW_HOT_SHARE

    src = "/root/testdata/sf0.1"
    for t, (fk, dim, dim_key) in SKEW_FKS.items():
        col = pq.read_table(f"{skew_dir}/{t}.parquet", columns=[fk])[fk]
        keys = sorted(
            set(pq.read_table(f"{src}/{dim}.parquet", columns=[dim_key])[
                dim_key
            ].to_pylist())
        )
        vals = col.to_pylist()
        n_src = pq.read_metadata(f"{src}/{t}.parquet").num_rows
        assert len(vals) == n_src, t
        import collections

        freq = collections.Counter(vals)
        hot = freq[keys[0]] / len(vals)
        # hot share = 0.30 point-mass + the Zipf rank-1 mass; must at
        # least clear the point-mass and stay far above uniform.
        assert hot >= SKEW_HOT_SHARE - 0.02, (t, hot)
        assert hot > 5 / len(keys), (t, hot)
        top10 = sum(c for _, c in freq.most_common(10)) / len(vals)
        assert top10 > 0.5, (t, top10)


def test_gen_sf_skew_fk_closure_and_other_columns_untouched(skew_dir):
    """Referential integrity holds after the redraw (every FK value is
    an existing dimension key) and nothing else moved: non-FK columns
    of redrawn tables are value-identical to the source, and tables
    outside SKEW_FKS are copied verbatim."""
    from tools.gen_sf import SKEW_FKS

    src = "/root/testdata/sf0.1"
    for t, (fk, dim, dim_key) in SKEW_FKS.items():
        t1 = pq.read_table(f"{skew_dir}/{t}.parquet")
        t0 = pq.read_table(f"{src}/{t}.parquet")
        dimkeys = set(
            pq.read_table(f"{src}/{dim}.parquet", columns=[dim_key])[
                dim_key
            ].to_pylist()
        )
        assert set(t1[fk].to_pylist()) <= dimkeys, t
        for col in t0.column_names:
            if col != fk:
                assert t1[col].equals(t0[col]) or (
                    t1[col].to_pylist() == t0[col].to_pylist()
                ), (t, col)
    for t in ("region", "nation", "customer", "supplier", "part",
              "documents", "embeddings"):
        t1 = pq.read_table(f"{skew_dir}/{t}.parquet")
        t0 = pq.read_table(f"{src}/{t}.parquet")
        assert t1.equals(t0), t


# ---------------------------------------------------------------- bench.py
# Median-family membership gates (ADVICE r16): a hand-edited tracked
# artifact must not join median_of_runs, and a legitimately
# median-refreshed canonical (which differs from its blob ONLY in that
# derived field) must.


@pytest.fixture()
def git_repo(tmp_path):
    import json
    import os

    repo = tmp_path / "r"
    repo.mkdir()
    env = dict(
        os.environ,
        GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
        GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t",
    )

    def git(*a):
        subprocess.run(
            ["git", *a], cwd=repo, check=True, capture_output=True, env=env
        )

    git("init", "-q")
    art = repo / "BENCHFULL_r99.json"
    art.write_text(
        json.dumps({"value": 100.0, "sf": 0.1, "commit": "abc1234"}) + "\n"
    )
    git("add", "BENCHFULL_r99.json")
    git("commit", "-qm", "seed")
    return repo, art


def test_bench_blob_gate_accepts_unmodified_and_untracked(git_repo):
    import json

    import bench

    repo, art = git_repo
    assert bench._artifact_matches_committed_blob(str(art), str(repo))
    new = repo / "BENCHFULL_r99_rerun1.json"
    new.write_text(json.dumps({"value": 90.0, "sf": 0.1}) + "\n")
    assert bench._artifact_matches_committed_blob(str(new), str(repo))


def test_bench_blob_gate_accepts_median_only_refresh(git_repo):
    import json

    import bench

    repo, art = git_repo
    d = json.loads(art.read_text())
    d["median_of_runs"] = {"n_runs": 2, "value": 95.0}
    art.write_text(json.dumps(d) + "\n")
    assert bench._artifact_matches_committed_blob(str(art), str(repo))


def test_bench_blob_gate_rejects_edited_measurement(git_repo):
    import json

    import bench

    repo, art = git_repo
    d = json.loads(art.read_text())
    d["value"] = 10.0  # hand-edited headline
    art.write_text(json.dumps(d) + "\n")
    assert not bench._artifact_matches_committed_blob(str(art), str(repo))


# --------------------------------------------------------- kept tools
# Every tool module must import on its own: a kept tool that still
# imports a deleted one fails here, not on its first manual run.
# driver_sim runs its checks at import time, so it is left out.

_TOOLS_DIR = Path(__file__).resolve().parent.parent / "tools"


@pytest.mark.parametrize(
    "name",
    sorted(
        p.stem for p in _TOOLS_DIR.glob("*.py") if p.stem != "driver_sim"
    ),
)
def test_tool_modules_import(name):
    importlib.import_module(f"tools.{name}")
