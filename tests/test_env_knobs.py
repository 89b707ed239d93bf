"""Pin the package's environment knobs.

Every ``os.environ`` / ``os.getenv`` read under ``ojo_daps_mirror_spark/``
is a knob someone has to know about, document and test. This test fixes
the set: adding a knob (or leaving a dead one behind) fails here until
the list below is edited on purpose.
"""

from __future__ import annotations

import ast
import pathlib

import ojo_daps_mirror_spark

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_STAGE_CACHE_DIR",
    "SPARK_GRAFT_SCALE_MODE",
    "SPARK_GRAFT_SUFFIX_STRIDE",
}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST) -> list[ast.AST]:
    """The name argument of every os.environ.get(...) / os.environ[...]
    / os.getenv(...) in ``tree``."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            out.append(node.slice)
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr in ("get", "pop", "setdefault") and _is_environ(f.value))
                or (
                    f.attr == "getenv"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os"
                )
            ):
                out.append(node.args[0])
    return out


def test_package_reads_exactly_the_known_env_knobs():
    root = pathlib.Path(ojo_daps_mirror_spark.__file__).parent
    found: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for arg in _env_reads(tree):
            where = f"{path.relative_to(root)}:{arg.lineno}"
            assert isinstance(arg, ast.Constant) and isinstance(
                arg.value, str
            ), f"env var name must be a string literal ({where})"
            found.setdefault(arg.value, []).append(where)
    assert set(found) == KNOBS, {
        "new": {k: found[k] for k in set(found) - KNOBS},
        "gone": sorted(KNOBS - set(found)),
    }
