"""One writer per metadata format: every MDT log block goes through
``write/mdt.py::append_mdt_log`` and every ``hoodie.properties`` through
the codec in ``config/table_config.py`` (``format_properties``, the
inverse of ``parse_properties``, and ``update_properties``).

The AST guard pins where MDT log blocks and properties text are built;
the property test checks that the codec round-trips. Neither needs
Spark."""

from __future__ import annotations

import ast
import pathlib

from hypothesis import given, settings
from hypothesis import strategies as st

from hudi_rs_spark.config.table_config import (
    format_properties,
    parse_properties,
)

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hudi_rs_spark"
APPENDER = ("write/mdt.py", "append_mdt_log")
# guarded construct -> the (module, enclosing function) sites allowed
ALLOWED = {
    "_next_log_state": {APPENDER},
    "frame_block(BLOCK_HFILE_DATA": {APPENDER},
    # MDT compaction writes the folded MDT base files
    "build_hfile": {APPENDER, ("write/mdt_compact.py", "_fold_one")},
    'f"{k}={v}"': {("config/table_config.py", "format_properties")},
}


def _guarded(node) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        name = (
            f.id if isinstance(f, ast.Name)
            else f.attr if isinstance(f, ast.Attribute) else None
        )
        if name == "frame_block":
            first = node.args[0] if node.args else None
            if isinstance(first, ast.Name) and first.id == "BLOCK_HFILE_DATA":
                return "frame_block(BLOCK_HFILE_DATA"
            return None
        return name if name in ALLOWED else None
    if isinstance(node, ast.JoinedStr):
        # f"{name}={name}": a hand-built properties line
        v = node.values
        if (
            len(v) == 3
            and isinstance(v[1], ast.Constant) and v[1].value == "="
            and all(
                isinstance(x, ast.FormattedValue)
                and isinstance(x.value, ast.Name)
                for x in (v[0], v[2])
            )
        ):
            return 'f"{k}={v}"'
    return None


def _sites():
    """(construct, module, enclosing function) of every guarded
    construct in the package."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        module = path.relative_to(PACKAGE).as_posix()

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            name = _guarded(node)
            if name is not None:
                hits.append((name, module, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(tree, None)
    return hits


def test_mdt_logs_and_properties_built_in_one_place():
    hits = _sites()
    outside = [h for h in hits if (h[1], h[2]) not in ALLOWED[h[0]]]
    assert not outside, (
        "append MDT logs through mdt.append_mdt_log and write "
        f"hoodie.properties through format_properties: {outside}"
    )
    for name, sites in ALLOWED.items():
        assert {(m, f) for n, m, f in hits if n == name} == sites, name


# printable ASCII, which includes the escape and separator characters
# ``\ : = # !``; the reader strips both sides of keys and values
_TEXT = st.text(
    st.characters(min_codepoint=32, max_codepoint=126), max_size=12
).map(str.strip)


@given(st.dictionaries(_TEXT, _TEXT, max_size=8))
@settings(max_examples=300, deadline=None)
def test_format_properties_is_the_inverse_of_parse(props):
    assert parse_properties(format_properties(props)) == props


def test_backslashes_and_separators_round_trip():
    props = {
        "hoodie.bootstrap.base.path": "C:\\data\\src",
        "hoodie.table.expr.index.digits": "regexp_extract(name, '(\\\\d+)', 1)",
        "a=b:c": "x=y:z",
        "#not.a.comment": "!",
        "hoodie.table.create.schema": '{"type":"record"}',
    }
    text = format_properties(props)
    assert parse_properties(text) == props
    # escape-free entries are written as plain key=value lines
    assert 'hoodie.table.create.schema={"type":"record"}\n' in text
