"""Tests for the tooling: the full-table sf-multiplier generator
(tools/gen_sf.py) — the whole-registry sf1 measurement rests on this
generator preserving referential structure and growing every table
linearly, so those properties are pinned here — plus an end-to-end run
of tools/profile_queries.py, an import check of every tool and of
bench.py, and the package reachability guard."""

from __future__ import annotations

import ast
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


# ------------------------------------------------------ profile_queries
# Runs end to end at the smoke scale: bench's shared warm-up must not
# skip a step, and the counters read from perfbench.probe must see the
# query's jobs.

_PROFILE_FIELDS = {
    "wall_s", "rows", "n_jobs", "n_stages", "n_tasks", "executor_ms",
    "shuffle_r_mb", "shuffle_w_mb", "input_mb", "codegen_compiles",
}


def test_profile_queries_smoke(tmp_path):
    import json
    import os

    from tests.conftest import SF_SMOKE

    out = tmp_path / "profile.json"
    r = subprocess.run(
        [sys.executable, "tools/profile_queries.py",
         "--only", "pricing_summary,asof_join", "--out", str(out)],
        cwd=_REPO,
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE),
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "skipped" not in r.stderr
    profile = json.loads(out.read_text())["profile"]
    assert set(profile) == {"pricing_summary", "asof_join"}
    for name, rec in profile.items():
        assert set(rec) == _PROFILE_FIELDS, name
        assert rec["n_jobs"] >= 1 and rec["n_tasks"] >= 1, (name, rec)


# --------------------------------------------------------- kept tools
# Every tool module, and bench.py, must import on its own: a kept tool
# that still imports a deleted one fails here, not on its first manual
# run. driver_sim runs its checks at import time, so it is left out.

_TOOLS_DIR = Path(__file__).resolve().parent.parent / "tools"


@pytest.mark.parametrize(
    "name",
    sorted(
        p.stem for p in _TOOLS_DIR.glob("*.py") if p.stem != "driver_sim"
    ) + ["bench"],
)
def test_tool_modules_import(name):
    importlib.import_module(name if name == "bench" else f"tools.{name}")


# ------------------------------------------------------ package reachability
# One implementation per capability: every package module must be
# imported (transitively) from a real entry point — a registry plan, the
# ERCOT pipelines, the CLI, the benchmark or a tool — not only from
# tests. Package ``__init__`` re-exports are not followed as edges, so a
# module that is only re-exported still counts as unreached; a name
# imported through a package resolves to the submodule defining it, and
# functions an ``__init__`` defines itself (``release_caches``) count.

_REPO = _TOOLS_DIR.parent
_PKG = "energydatalake_spark"
_ROOTS = (
    f"{_PKG}/plans/registry.py",
    f"{_PKG}/plans/llm_ops.py",
    f"{_PKG}/pipelines/ercot.py",
    f"{_PKG}/__main__.py",
    "perfbench/*.py",
    "tools/*.py",
    "bench.py",
    "__spark_entry__.py",
)


def _module_file(dotted: str) -> Path | None:
    base = _REPO.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _reexport_source(init: Path, name: str) -> Path | None:
    for node in ast.walk(ast.parse(init.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module and any(
            (a.asname or a.name) == name for a in node.names
        ):
            return _module_file(node.module)
    return None


def _package_imports(path: Path) -> set[Path]:
    tree = ast.parse(path.read_text())
    if path.name == "__init__.py":
        # only code defined in the package itself, not its re-exports
        tree = ast.Module(
            [n for n in tree.body if isinstance(n, ast.FunctionDef)], []
        )
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            targets = [(node.module, a.name) for a in node.names]
        else:
            continue
        for mod, name in targets:
            p = _module_file(mod) if mod.split(".")[0] == _PKG else None
            if p is None:
                continue
            if name and p.name == "__init__.py":
                p = (
                    _module_file(f"{mod}.{name}")
                    or _reexport_source(p, name)
                    or p
                )
            out.add(p)
    return out


def test_package_modules_reached_outside_tests():
    todo = [p for pattern in _ROOTS for p in _REPO.glob(pattern)]
    reached: set[Path] = set()
    while todo:
        p = todo.pop()
        if p in reached:
            continue
        reached.add(p)
        # importing a submodule runs its parent packages' __init__
        for parent in p.relative_to(_REPO).parents:
            if parent.parts[:1] == (_PKG,):
                todo.append(_REPO / parent / "__init__.py")
        todo.extend(_package_imports(p))
    unreached = sorted(
        str(p.relative_to(_REPO))
        for p in (_REPO / _PKG).rglob("*.py")
        if p not in reached
    )
    assert not unreached, f"package modules only tests reach: {unreached}"
