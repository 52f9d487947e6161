"""Edge branches of the pure-Python kernel (coverage-gate closers):
empty-input guards, file-reading helpers, parser conveniences."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from glug_spark.index import codec
from glug_spark.query.parser import parse_query
from glug_spark.semantics.lines import read_lines
from glug_spark.semantics.tokenize import tokenize_with_positions
from glug_spark.semantics.typetags import TypetagDatabase
from tests import reference_kernels


def test_read_lines_crlf(tmp_path):
    p = tmp_path / "rules.gitignore"
    p.write_bytes(b"*.log\r\n!keep.log\n\r\nlast")
    assert read_lines(str(p)) == ["*.log", "!keep.log", "", "last"]


def test_tokenize_with_positions():
    assert tokenize_with_positions("a b a") == [(0, "a"), (1, "b"), (2, "a")]
    assert tokenize_with_positions("") == []


def test_parser_unclosed_quote_keeps_tail():
    plan = parse_query('foo "bar baz')
    assert plan.phrases == [["bar", "baz"]]
    assert plan.groups == [[("term", "foo")]]


def test_parser_plan_properties():
    plan = parse_query("data dat* -tmp*")
    assert plan.positive_terms == ["data"]
    assert plan.positive_globs == ["dat*"]
    assert plan.negations == [("glob", "tmp*")]


def test_typetag_expand_expression_and_bool():
    db = TypetagDatabase()
    expanded = db.expand_expression("#cpp,-x.txt")
    assert "*.cpp" in expanded and "-x.txt" in expanded


def test_codec_empty_inputs():
    assert codec.encode_positions([]) == b""
    last, max_tf = codec.block_meta(
        np.zeros(0, np.int64), np.zeros(0, np.int64)
    )
    assert len(last) == 0 and len(max_tf) == 0
    empty = codec.encode_runs_table(
        np.zeros(0, np.int64), np.zeros(0, np.int64),
        np.zeros(0, np.int64), np.zeros(0, np.int64),
        np.zeros(0, np.uint64),
    )
    assert all(len(v) == 0 for v in empty.values())
    assert empty["cf_local"] == []


# --- branch-gate closers (arc coverage: both edges of each branch) ------

def test_literal_prefix_pure_literal_and_wildcard():
    from glug_spark.semantics.glob import literal_prefix

    # loop exhausts (no wildcard) vs breaks at the first wildcard
    assert literal_prefix("abc") == "abc"
    assert literal_prefix("ab*c") == "ab"
    assert literal_prefix("") == ""


def test_delta_encode_empty():
    assert codec.delta_encode(np.zeros(0, dtype=np.int64)).size == 0


def test_pos_deltas_empty():
    assert codec._pos_deltas([]).size == 0


def test_decode_blocks_empty_selection():
    ids = np.arange(10, dtype=np.int64)
    tfs = np.ones(10, dtype=np.int64)
    dls = np.full(10, 7, dtype=np.int64)
    pos = np.zeros(10, dtype=np.uint64)
    runs = codec.encode_runs(np.zeros(10, dtype=np.int64), ids, tfs, dls, pos)
    got_ids, got_tfs, got_dls = reference_kernels.decode_blocks(
        runs[0], np.zeros(0, dtype=np.int64)
    )
    assert got_ids.size == got_tfs.size == got_dls.size == 0
    batch = pa.RecordBatch.from_pylist([runs[0]])
    got = codec.PostingBlocks(batch, positions=True).decode(
        np.zeros(0, dtype=np.int64), positions=True
    )
    assert all(v.size == 0 for v in got.values())


def test_typetag_db_explicit_tags():
    db = TypetagDatabase({"x": "*.x,*.y"})
    assert db.expand(["#x"]) == ["*.x", "*.y"]


def test_parser_empty_quote_dropped():
    plan = parse_query('foo "" bar')
    assert plan.phrases == []


def test_ignore_batch_all_decided_short_circuit():
    """Every path decided by the highest-precedence run → the reversed
    run walk breaks before older runs (the `not undecided.any()` edge)."""
    import pandas as pd

    from glug_spark.semantics.filters import DEC_EXCLUDED, IgnoreFilter

    filt = IgnoreFilter(["*.log", "*"], anchor="site")
    paths = pd.Series(["site/a.txt", "site/b.log"])
    names = pd.Series(["a.txt", "b.log"])
    is_dir = np.zeros(2, dtype=bool)
    out = filt.apply_batch(paths, names, is_dir)
    assert list(out) == [DEC_EXCLUDED, DEC_EXCLUDED]
    # cached-runs edge: second call reuses the compiled runs
    out2 = filt.apply_batch(paths, names, is_dir)
    assert list(out2) == list(out)


def test_select_anchored_rule_and_kind_run_cache():
    import pandas as pd

    from glug_spark.semantics.filters import SelectFilter

    filt = SelectFilter(["docs/*.md", "src/"], anchor="repo")
    paths = pd.Series(["repo/docs/a.md", "repo/docs/a.txt", "repo/src"])
    names = pd.Series(["a.md", "a.txt", "src"])
    is_dir = np.array([False, False, True])
    out = filt.apply_batch(paths, names, is_dir)
    out2 = filt.apply_batch(paths, names, is_dir)  # cached kind runs
    assert list(out) == list(out2)


def test_ignore_batch_breaks_across_runs():
    """Rules forming MULTIPLE runs (alternating decisions) where the
    highest-precedence run decides every path → the reversed walk must
    break before evaluating older runs."""
    import pandas as pd

    from glug_spark.semantics.filters import DEC_EXCLUDED, IgnoreFilter

    filt = IgnoreFilter(["*.log", "!keep*", "*"], anchor="site")
    assert len(filt.runs) == 3
    paths = pd.Series(["site/a.txt", "site/b.log"])
    names = pd.Series(["a.txt", "b.log"])
    out = filt.apply_batch(paths, names, np.zeros(2, dtype=bool))
    assert list(out) == [DEC_EXCLUDED, DEC_EXCLUDED]


def test_parser_unclosed_quote_whitespace_tail():
    plan = parse_query('x "   ')
    assert plan.phrases == []


def test_encode_runs_empty_input():
    z = np.zeros(0, dtype=np.int64)
    runs = codec.encode_runs(z, z, z, z, np.zeros(0, dtype=np.uint64))
    assert runs == []


def test_encode_runs_without_positions():
    """Rows owning no positions (tf 0) encode an empty position blob."""
    ids = np.arange(3, dtype=np.int64)
    z = np.zeros(3, dtype=np.int64)
    runs = codec.encode_runs(z, ids, z, z + 5, np.zeros(0, dtype=np.uint64))
    assert len(runs) == 1 and runs[0]["positions"] == b""
