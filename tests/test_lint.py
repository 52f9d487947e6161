"""The lint gate runs as part of the suite (the reference wires its
flake8/mypy/encoding lints into CI the same way — setup.cfg:7-14,
tools/encoding.py; tools/lint_gate.py is the stdlib-only analog)."""

from __future__ import annotations

import io
import os
import sys

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


def test_lint_gate_clean():
    sys.path.insert(0, TOOLS)
    import lint_gate

    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        rc = lint_gate.main()
    finally:
        sys.stdout = stdout
    assert rc == 0, f"lint findings:\n{buf.getvalue()}"


def test_type_gate_clean():
    """The strict-mypy-analog gate (annotation presence, implicit
    Optional ban, call-signature consistency) over all of glug_spark."""
    sys.path.insert(0, TOOLS)
    import type_gate

    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        rc = type_gate.main()
    finally:
        sys.stdout = stdout
    assert rc == 0, f"type findings:\n{buf.getvalue()}"


def test_type_gate_catches_violations():
    """A gate that never fails is no gate: each check must fire on a
    synthetic violation."""
    import ast

    sys.path.insert(0, TOOLS)
    import type_gate

    # 1. untyped parameter + missing return annotation
    src = "def f(x):\n    return x\n"
    errs = type_gate.check_annotations("m.py", ast.parse(src), src)
    assert any("untyped parameter" in e for e in errs)
    assert any("missing return annotation" in e for e in errs)

    # noqa escape hatch silences it
    src2 = "def f(x):  # noqa: type\n    return x\n"
    assert type_gate.check_annotations("m.py", ast.parse(src2), src2) == []

    # 2. implicit Optional
    src3 = "def f(x: int = None) -> int:\n    return x\n"
    errs3 = type_gate.check_annotations("m.py", ast.parse(src3), src3)
    assert any("omits None" in e for e in errs3)
    src4 = "def f(x: int | None = None) -> int:\n    return 0\n"
    assert type_gate.check_annotations("m.py", ast.parse(src4), src4) == []
    # string annotation (future import) with None resolves too
    src5 = 'def f(x: "int | None" = None) -> int:\n    return 0\n'
    assert type_gate.check_annotations("m.py", ast.parse(src5), src5) == []

    # 3. call-signature consistency
    bad_calls = [
        "g(1, 2, 3)",       # too many positionals
        "g(1, zz=2)",       # unknown keyword
        "g()",              # missing required
        "g(1, y=2, y=3)",   # duplicate keyword (SyntaxError — skip)
    ]
    sig_src = "def g(x: int, y: int = 0) -> int:\n    return x\n"
    for call in bad_calls[:3]:
        mod = ast.parse(sig_src + f"Z = {call}\n")
        defs = type_gate._collect_defs({"m": mod})
        chk = type_gate._CallChecker("m", defs, {"m"})
        chk.visit(mod)
        assert chk.errs, call
    ok = ast.parse(sig_src + "Z = g(1)\nW = g(1, y=2)\nV = g(x=5)\n")
    defs = type_gate._collect_defs({"m": ok})
    chk = type_gate._CallChecker("m", defs, {"m"})
    chk.visit(ok)
    assert chk.errs == []
