"""Inventory of the environment variables the program reads, and no
session-state mutation in the library.

Every knob is a setting that can go stale when the host changes. The
program (ksoup_spark/, jobs/, __spark_entry__.py) is scanned for
os.environ.get(K), os.getenv(K), os.environ[K] and ``K in os.environ``; the
set of keys must equal the list below, so adding or dropping a knob is a
visible change to this file. The library (ksoup_spark/) must not call
``conf.set``/``conf.unset`` on a session it was handed: a setting an
operator needs goes on its reader or writer as an option.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent

KNOBS = {
    "KSOUP_CTOK_CACHE",      # C extension build cache directory
    "XDG_CACHE_HOME",        # its default parent
    "KSOUP_SPARK_NO_CTOK",   # force the Python tokenizer
    "KSOUP_SPARK_NO_CTREE",  # force the Python tree builder
    "SPARK_GRAFT_DRIVER_MEM",  # driver heap of get_spark's session
}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _key(node) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key: {ast.unparse(node)}>"


def _env_reads(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                    (f.attr == "get" and _is_environ(f.value))
                    or (f.attr == "getenv" and isinstance(f.value, ast.Name)
                        and f.value.id == "os")):
                yield _key(node.args[0])
        elif (isinstance(node, ast.Subscript) and _is_environ(node.value)
              and isinstance(node.ctx, ast.Load)):
            yield _key(node.slice)
        elif (isinstance(node, ast.Compare) and len(node.ops) == 1
              and isinstance(node.ops[0], (ast.In, ast.NotIn))
              and _is_environ(node.comparators[0])):
            yield _key(node.left)


def test_environment_knobs_are_the_listed_ones():
    files = sorted((REPO / "ksoup_spark").rglob("*.py"))
    files += sorted((REPO / "jobs").glob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    found = {}
    for path in files:
        for key in _env_reads(ast.parse(path.read_text())):
            found.setdefault(key, str(path.relative_to(REPO)))
    assert set(found) == KNOBS, found


def _conf_mutations(tree):
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"):
            yield f"{ast.unparse(node.func)} (line {node.lineno})"


def test_library_sets_no_session_conf():
    found = {
        str(path.relative_to(REPO)): hits
        for path in sorted((REPO / "ksoup_spark").rglob("*.py"))
        if (hits := list(_conf_mutations(ast.parse(path.read_text()))))
    }
    assert found == {}, found
