"""The engine keeps its derived state (table readers, the raw-events range
reader, spread decisions, fitted IVF centroids and BPE merges) in one
bounded memo, sources.io._MEMO, with one clear path. These tests pin that
clear_reader_cache() invalidates everything derived from a source
directory, and that no second module-level memo grows back. Persisted
frames likewise have one owner, sources.io.cached."""

from __future__ import annotations

import ast
import os
import shutil
import sys
import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from conftest import SF_SMALL

import aim357_2019_etl_and_ml_workshop_spark as pkg
from aim357_2019_etl_and_ml_workshop_spark import queries as q
from aim357_2019_etl_and_ml_workshop_spark.sources import io as iom

SF001 = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")


def _rewrite(src: str, dst_dir: Path, transform) -> None:
    """Write transform(table) to dst_dir/<same name>, replacing any file
    there in one rename (an in-place rewrite of the table). Small row
    groups, so a reader holding the old file length would miss some."""
    name = os.path.basename(src)
    tmp = dst_dir / f".{name}.tmp"
    pq.write_table(transform(pq.read_table(src)), tmp, row_group_size=1000)
    os.replace(tmp, dst_dir / name)


def _more_clicks(t):
    """Every event once more if it is a click: a larger file."""
    return pa.concat_tables([t, t.filter(pc.equal(t["event_type"], "click"))])


def _reversed_text(t):
    return t.set_column(
        t.schema.get_field_index("text"), "text", pc.utf8_reverse(t["text"])
    )


def test_clear_reader_cache_invalidates_everything_derived(spark, tmp_path):
    """Rewrite events and documents in place, clear the memo, and the
    events range reader and the trained BPE merges must both see the new
    files: the answers equal those from a directory the memo never saw."""
    reg = q.queries()
    names = ("flagship_daily_type_counts", "bpe_train_merges")

    def run(d: Path) -> dict:
        return {n: sorted(reg[n](spark, str(d)).collect()) for n in names}

    live, fresh = tmp_path / "live", tmp_path / "fresh"
    live.mkdir()
    fresh.mkdir()
    for table in ("events", "documents"):
        shutil.copy(os.path.join(SF001, f"{table}.parquet"), live)
    _rewrite(os.path.join(SF001, "events.parquet"), fresh, _more_clicks)
    _rewrite(os.path.join(SF001, "documents.parquet"), fresh, _reversed_text)

    before = run(live)
    tags = {k[0] for k in iom._MEMO if str(live) in k}
    assert {"events_raw", "bpe", "reader"} <= tags
    _rewrite(str(live / "events.parquet"), live, _more_clicks)
    _rewrite(str(live / "documents.parquet"), live, _reversed_text)
    q.clear_reader_cache()
    assert len(iom._MEMO) == 0
    after = run(live)
    expect = run(fresh)
    for n in names:
        assert before[n] != expect[n], n  # the rewrite changes the answer
        assert after[n] == expect[n], n
    q.clear_reader_cache()


def test_ivf_centroids_fitted_once_and_dropped_by_clear(spark, sf_dir):
    first = q._ivf_centroids_for(spark, sf_dir)
    assert q._ivf_centroids_for(spark, sf_dir) is first
    assert ("ivf", sf_dir, 16) in iom._MEMO
    q.clear_reader_cache()
    refit = q._ivf_centroids_for(spark, sf_dir)
    assert refit is not first
    assert refit == first  # seeded fit: eviction changes timing only


def test_memo_concurrent_builds_and_evictions_stay_consistent(monkeypatch):
    """More threads than cores hammer a small memo with hits, builds and
    evictions: every call returns its own key's value, the cap holds, and
    the lock keeps the OrderedDict from being mutated mid-update."""
    monkeypatch.setattr(iom, "_MEMO_MAX", 4)
    iom.clear_reader_cache()
    errors: list = []

    def worker(seed: int) -> None:
        try:
            for i in range(20000):
                k = (seed * 7 + i) % 8
                if iom.memo(("stress", k), lambda k=k: k * 10) != k * 10:
                    errors.append(k)
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(n,)) for n in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert 0 < len(iom._MEMO) <= 4
    iom.clear_reader_cache()


# Module-level dicts that are not memos: the query registry and its oracle
# SQL are filled once at import by @register.
_NOT_MEMOS = {("queries.py", "_REGISTRY"), ("queries.py", "_ORACLE")}
# The one store, plus the gather broadcasts, whose eviction must release
# JVM broadcasts (unpersist, park, destroy) and so keep their own LRU.
_MEMOS = {
    ("sources/io.py", "_MEMO"),
    ("operators/similarity.py", "_GATHER_BC_CACHE"),
    ("operators/similarity.py", "_GATHER_BC_GRAVE"),
}
_CONTAINERS = {
    "dict", "OrderedDict", "defaultdict", "WeakKeyDictionary",
    "WeakValueDictionary",
}
_CACHE_DECORATORS = {"lru_cache", "cache", "cached_property"}


def _module_level(body):
    """Statements at module or class level (not inside functions)."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        yield node
        for field in ("body", "orelse", "finalbody", "handlers"):
            yield from _module_level(getattr(node, field, []))


def _empty_container(value) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, ast.Call):
        fn = value.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
        return name in _CONTAINERS
    return False


def _decorator_name(d) -> str:
    d = d.func if isinstance(d, ast.Call) else d
    return d.id if isinstance(d, ast.Name) else getattr(d, "attr", "")


def test_one_memo_store_in_the_package():
    root = Path(pkg.__file__).parent
    found, cached_fns = set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        for node in _module_level(tree.body):
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and (
                node.value is not None and _empty_container(node.value)
            ):
                targets = (
                    node.targets if isinstance(node, ast.Assign) else [node.target]
                )
                found |= {(rel, t.id) for t in targets if isinstance(t, ast.Name)}
        cached_fns += [
            f"{rel}:{n.name}"
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and any(_decorator_name(d) in _CACHE_DECORATORS for d in n.decorator_list)
        ]
    assert found - _NOT_MEMOS == _MEMOS
    assert cached_fns == []


# The one owner of persisted frames, and the gather-broadcast LRU (which
# unpersists evicted JVM broadcasts, not DataFrames).
_CACHE_OWNERS = {
    ("sources/io.py", "cached"),
    ("operators/similarity.py", "_gather_broadcast"),
}


def test_one_cache_owner_in_the_package():
    """Every persisted frame in the package is owned by sources.io.cached,
    which releases it when its block exits: no other persist/cache/
    unpersist call may appear, so no operator can leave a cached frame
    behind in a long-lived session."""
    root = Path(pkg.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        owners = [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and (rel, n.name) in _CACHE_OWNERS
        ]
        allowed = {id(c) for o in owners for c in ast.walk(o)}
        stray += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("persist", "cache", "unpersist")
            and id(n) not in allowed
        ]
    assert stray == []
