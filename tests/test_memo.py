"""The memo helper: one build per key, materialized before it returns,
evicted as a whole, scoped to the live application — and the only
place in the package that keeps persisted frames in a module dict."""

import ast
import pathlib

import pytest

from ai_ocr_spark import memo as M

SF = "memo-test"  # any string: memo only keys on it


@pytest.fixture
def fresh(spark):
    M.clear_caches(spark)
    yield spark
    M.clear_caches(spark)


def _frame(spark, n=1000):
    return spark.range(n).repartition(4).selectExpr("id", "id * 2 AS x")


def _cached_rdds(sc):
    return {
        i.id(): (i.numPartitions(), i.numCachedPartitions())
        for i in sc._jsc.sc().getRDDStorageInfo()
    }


def test_build_runs_once_per_key(fresh):
    calls = []

    def build():
        calls.append(1)
        return _frame(fresh)

    a = M.memo(fresh, SF, "once", build)
    b = M.memo(fresh, SF, "once", build)
    assert a is b
    assert len(calls) == 1
    M.memo(fresh, SF, "other", build)
    M.memo(fresh, SF + "-2", "once", build)
    assert len(calls) == 3


def test_entry_is_materialized_before_memo_returns(fresh):
    """No caller action runs between memo and the storage check, so
    the cached partitions can only come from memo's own count."""
    before = _cached_rdds(fresh.sparkContext)
    M.memo(fresh, SF, "eager", lambda: _frame(fresh))
    new = {
        k: v
        for k, v in _cached_rdds(fresh.sparkContext).items()
        if k not in before
    }
    assert new, "memo returned a lazily persisted frame"
    assert all(n > 0 and cached == n for n, cached in new.values()), new


def test_clear_caches_unpersists_every_frame_of_a_tuple(fresh):
    a, b = M.memo(
        fresh, SF, "pair", lambda: (_frame(fresh), _frame(fresh, 500))
    )
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    assert M.clear_caches(fresh) >= 1
    assert not a.storageLevel.useMemory
    assert not b.storageLevel.useMemory
    # evicted: the next call builds again
    calls = []
    M.memo(fresh, SF, "pair", lambda: calls.append(1) or _frame(fresh))
    assert calls == [1]


def test_entries_of_another_application_are_purged(fresh):
    stale = ("application-stopped-long-ago", SF, "stale")
    M._ENTRIES[stale] = object()  # its context is gone: never unpersisted
    M.memo(fresh, SF, "live", lambda: _frame(fresh, 10))
    assert stale not in M._ENTRIES
    assert (fresh.sparkContext.applicationId, SF, "live") in M._ENTRIES


# --- no hand-rolled memo sites ----------------------------------------


PKG = pathlib.Path(__file__).resolve().parent.parent / "ai_ocr_spark"


def _module_dicts(tree):
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, ast.Dict) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", ""))
            in ("dict", "defaultdict", "OrderedDict")
        )
        if is_dict:
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _stores_into(fn, dicts):
    for node in ast.walk(fn):
        if isinstance(node, (ast.Assign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name)
                    and t.value.id in dicts
                ):
                    return True
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("setdefault", "update", "__setitem__")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in dicts
        ):
            return True
    return False


def _calls_persist(fn):
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "persist"
        for n in ast.walk(fn)
    )


def test_only_memo_keeps_persisted_frames_in_a_module_dict():
    trees = {
        p: ast.parse(p.read_text(), filename=str(p))
        for p in sorted(PKG.rglob("*.py"))
        if p != PKG / "memo.py"
    }
    # package-wide: a dict defined in one module and imported into
    # another is still a module-level dict
    dicts = set().union(*(_module_dicts(t) for t in trees.values()))
    offenders = [
        f"{p.relative_to(PKG.parent)}:{fn.lineno} {fn.name}"
        for p, tree in trees.items()
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and _calls_persist(fn)
        and _stores_into(fn, dicts)
    ]
    assert not offenders, (
        "persisted frames memoized outside ai_ocr_spark.memo: use memo.memo",
        offenders,
    )
