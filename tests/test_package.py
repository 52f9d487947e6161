"""The --py-files artifact must be self-contained and zipimport-clean:
a fresh interpreter with ONLY the zip on sys.path imports every engine
module (what executors do when spark-submit distributes the zip)."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_imports_standalone(tmp_path):
    sys.path.insert(0, ROOT)
    from tools.package import build_zip

    zip_path = build_zip(str(tmp_path / "glug_spark.zip"))
    probe = (
        "import sys; sys.path = [sys.path[0]] + ['" + zip_path + "'] + "
        "[p for p in sys.path[1:] if not p.startswith(" + repr(ROOT) + ")]\n"
        "import glug_spark.semantics.glob as g\n"
        "import glug_spark.semantics.filters\n"
        "import glug_spark.index.codec\n"
        "import glug_spark.query.parser, glug_spark.query.oracle\n"
        "import glug_spark.index.pipeline, glug_spark.query.wand\n"
        "import glug_spark.streaming.ingest, glug_spark.operators.dedup\n"
        "import glug_spark.cli\n"
        "assert 'glug_spark.zip' in g.__file__, g.__file__\n"
        "print(g.to_regex('dat*'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "dat[^/]*"
