"""End-to-end parity with the reference CLI (`main client <dir> wc|ii`):
text-file directory in, `key: value` text lines out, content checked
against an independent pure-Python computation of the reference
semantics — tokenize on non-LETTER runes (Go ``unicode.IsLetter``,
mapper.go:181) with case PRESERVED (wcMap never lowercases), so the
fixtures deliberately include mixed case and non-ASCII letters.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from pathlib import Path

import pytest

from grpc_map_reduce_spark.sinks import run_reference_job
from grpc_map_reduce_spark.sources import read_text_corpus

CORPUS = {
    "a.txt": "The quick brown fox; the lazy dog!",
    "b.txt": "Dog days... quick-quick: 42 foxes?",
    "c.txt": "lazy\nlazy\nLAZY",
    # Unicode letters must be kept whole (ï, é, Σ, ß are letters; the
    # digit and dash split): Go's IsLetter semantics, not [a-zA-Z].
    "d.txt": "naïve café Σigma straße 7Σigma The-the",
    # A name Hadoop paths URI-encode (space, "%", "+"): every mode must
    # report the on-disk name, not "ë%20x%2520+.txt".
    "ë x%20+.txt": "Ünïcode file names: ë, x+y 20%",
}

# Python twin of Go unicode.IsLetter splitting: [\W\d_] is exactly the
# complement of the Unicode letter categories under re.UNICODE.
_SPLIT = re.compile(r"[\W\d_]+", re.UNICODE)


def _write_corpus(tmp_path: Path) -> str:
    d = tmp_path / "corpus"
    d.mkdir()
    for name, text in CORPUS.items():
        (d / name).write_text(text, encoding="utf-8")
    return str(d)


def _read_output(path: str) -> dict[str, str]:
    lines = []
    for f in Path(path).glob("part-*"):
        lines += f.read_text(encoding="utf-8").splitlines()
    out = dict(line.split(": ", 1) for line in lines)
    assert len(out) == len(lines), "duplicate keys across output files"
    return out


def test_wc_job_end_to_end(spark, tmp_path):
    corpus_dir = _write_corpus(tmp_path)
    out_dir = str(tmp_path / "out_wc")
    run_reference_job(spark, corpus_dir, "wc", out_dir, num_files=2)

    expected = Counter(
        w for text in CORPUS.values() for w in _SPLIT.split(text) if w
    )
    got = {k: int(v) for k, v in _read_output(out_dir).items()}
    assert got == dict(expected)
    # the reference-parity properties the ASCII-lower mode would break:
    assert got["The"] == 2 and got["the"] == 2      # case preserved
    assert got["naïve"] == 1 and got["Σigma"] == 2  # unicode letters kept
    assert "nave" not in got and "na" not in got


def test_ii_job_end_to_end(spark, tmp_path):
    corpus_dir = _write_corpus(tmp_path)
    out_dir = str(tmp_path / "out_ii")
    run_reference_job(spark, corpus_dir, "ii", out_dir)

    index = defaultdict(set)
    for name, text in CORPUS.items():
        for w in _SPLIT.split(text):
            if w:
                index[w].add(name)
    expected = {
        w: f"{len(srcs)} {','.join(sorted(srcs))}" for w, srcs in index.items()
    }
    assert _read_output(out_dir) == expected


def test_cli_module_entry_point(spark, tmp_path):
    """``python -m grpc_map_reduce_spark client <dir> wc`` — the
    module entry point drives the same job (in-process: get_spark's
    getOrCreate reuses the test session, so this exercises arg parsing
    + the full job without a second JVM)."""
    from grpc_map_reduce_spark.__main__ import main

    corpus_dir = _write_corpus(tmp_path)
    out_dir = str(tmp_path / "cli_out")
    assert main(["client", corpus_dir, "wc", out_dir]) == 0
    got = {k: int(v) for k, v in _read_output(out_dir).items()}
    assert got["The"] == 2 and got["quick"] == 3

    assert main(["client", corpus_dir, "nope", out_dir]) == 2
    assert main(["wrong"]) == 2
    assert main(["client", corpus_dir, "wc", out_dir, "--partitions", "x"]) == 2


def test_cli_partitions_knob(spark, tmp_path):
    """--partitions N (the reference's nReducers analog,
    config.json:3-4): N output files, same content."""
    from grpc_map_reduce_spark.__main__ import main

    corpus_dir = _write_corpus(tmp_path)
    out_dir = str(tmp_path / "cli_out_p2")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert main(["client", corpus_dir, "wc", out_dir,
                 "--partitions", "2"]) == 0
    # the CLI must restore the session conf itself (ADVICE r5): a
    # reused getOrCreate session must not keep the override
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    parts = sorted(Path(out_dir).glob("part-*"))
    # a CAP, not an exact count: AQE may coalesce a tiny shuffle below
    # N first (the reference would write N files with some empty —
    # fewer, never more, is the right Spark behavior)
    assert 1 <= len(parts) <= 2
    got = {k: int(v) for k, v in _read_output(out_dir).items()}
    assert got["The"] == 2 and got["quick"] == 3


def test_read_text_corpus_granularity(spark, tmp_path):
    corpus_dir = _write_corpus(tmp_path)
    whole = read_text_corpus(spark, corpus_dir).collect()
    assert {r.source for r in whole} == set(CORPUS)
    assert {r.source: r.text for r in whole} == CORPUS

    lines = read_text_corpus(spark, corpus_dir, whole_files=False).collect()
    assert {r.source for r in lines} == set(CORPUS)
    # line-granularity: c.txt contributes 3 rows
    assert sum(1 for r in lines if r.source == "c.txt") == 3


def test_unknown_job_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        run_reference_job(spark, str(tmp_path), "nope", str(tmp_path / "x"))
