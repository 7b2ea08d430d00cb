"""One stage rule: ``sparkobs.io`` names, versions, marks and prunes
every staged layout (a derived on-disk copy of sf-dir tables).

Spark-free. The guard parses ``sparkobs/`` and ``tools/`` and fails on
a temp path spelled outside ``sparkobs/io.py`` or an ``ensure_stage``
call whose path is not a ``stage_dir(...)`` call; the other cases pin
the prune rule with plain-file builders.
"""

from __future__ import annotations

import ast
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkobs import io  # noqa: E402

_TEMP_CALLS = {"gettempdir", "mkdtemp"}


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _breaks_rule(node: ast.AST) -> bool:
    if _name(node) in _TEMP_CALLS:
        return True
    if not (isinstance(node, ast.Call) and _name(node.func) == "ensure_stage"):
        return False
    path = node.args[0] if node.args else None
    return not (isinstance(path, ast.Call) and _name(path.func) == "stage_dir")


def stage_rule_violations(root: str) -> list[str]:
    """``file:function`` of every top-level function (or ``<module>``)
    under ``root``'s ``sparkobs/`` and ``tools/``, ``sparkobs/io.py``
    excepted, that names a temp path itself or stages to a path that is
    not a ``stage_dir(...)`` call."""
    sites = set()
    for top in ("sparkobs", "tools"):
        for dirpath, _dirs, files in os.walk(os.path.join(root, top)):
            for f in files:
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                if not f.endswith(".py") or rel == os.path.join("sparkobs", "io.py"):
                    continue
                with open(os.path.join(root, rel)) as fh:
                    tree = ast.parse(fh.read())
                for stmt in tree.body:
                    if any(_breaks_rule(n) for n in ast.walk(stmt)):
                        sites.add(f"{rel}:{getattr(stmt, 'name', '<module>')}")
    return sorted(sites)


def test_only_io_names_a_stage_or_temp_path():
    assert stage_rule_violations(REPO) == []


def _stage(sf_dir: str, table: str, tag: str) -> str:
    def build(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write(tag)

    return io.ensure_stage(io.stage_dir(sf_dir, (table,), tag), build)


def _touch(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_a_miss_prunes_only_older_versions_of_its_own_source(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    sf, other = str(tmp_path / "sf"), str(tmp_path / "other")
    for d in (sf, other):
        for t in ("a", "b"):
            os.makedirs(os.path.join(d, f"{t}.parquet"))
    a1, a2 = _stage(sf, "a", "one"), _stage(sf, "a", "two")
    b1, o1 = _stage(sf, "b", "one"), _stage(other, "a", "one")
    assert len({a1, a2, b1, o1}) == 4
    assert _stage(sf, "a", "one") == a1  # hit

    _touch(os.path.join(sf, "a.parquet"))
    a1_new = _stage(sf, "a", "one")
    assert a1_new != a1 and not os.path.exists(a1), "own older version kept"
    for kept in (a2, b1, o1):  # another tag, table or sf-dir
        assert os.path.exists(os.path.join(kept, "_SUCCESS")), kept
    a2_new = _stage(sf, "a", "two")
    assert not os.path.exists(a2) and os.path.exists(a1_new)
    assert sorted(os.listdir(tmp_path / "tmp")) == sorted(
        os.path.basename(s) for s in (a1_new, a2_new, b1, o1)
    )


def test_a_hit_is_one_exists_check(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    os.makedirs(tmp_path / "sf" / "a.parquet")
    stage = _stage(str(tmp_path / "sf"), "a", "one")

    def no_build(tmp: str) -> None:
        raise AssertionError("a complete stage was rebuilt")

    def no_glob(*_a, **_k):
        raise AssertionError("the hit path listed the temp dir")

    monkeypatch.setattr(io.glob, "glob", no_glob)
    assert io.ensure_stage(stage, no_build) == stage
