"""The word tokenizer and the word n-gram window are each written once,
in ``pipeline/_util.py`` (``tokens_sql``, ``ngram_window_sql``). This
scans the package source (no Spark session) so a new hand-built
``split(trim(...))`` or ``concat_ws(' ', slice(...))`` fails here; the
DuckDB oracle SQL (``string_split(trim(...))``) does not match."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "diseasystore_spark"
BUILDER = PACKAGE / "pipeline" / "_util.py"

#: Spark's split of the trimmed text, as SQL text or as Column calls
TOKENIZER = re.compile(r"(?<!\w)split\(\s*(?:F\.)?trim\(")
#: a slice of the token array joined by one space
WINDOW = re.compile(
    r"(?:concat_ws\(\s*['\"] ['\"]\s*,\s*(?:F\.)?slice\("
    r"|array_join\(\s*(?:F\.)?slice\()"
)


def _matches(pattern: re.Pattern, path: pathlib.Path) -> list[str]:
    text = path.read_text()
    return [
        f"{path.relative_to(PACKAGE.parent)}:{text.count(chr(10), 0, m.start()) + 1}"
        for m in pattern.finditer(text)
    ]


def test_tokenizer_and_ngram_window_live_only_in_the_builder():
    sources = sorted(PACKAGE.rglob("*.py"))
    assert BUILDER in sources
    for name, pattern in (("tokenizer", TOKENIZER), ("n-gram window", WINDOW)):
        assert len(_matches(pattern, BUILDER)) == 1, name
        outside = [
            hit for p in sources if p != BUILDER for hit in _matches(pattern, p)
        ]
        assert not outside, f"{name} written outside {BUILDER.name}: {outside}"


def test_the_patterns_skip_the_duckdb_oracle_sql():
    assert not TOKENIZER.search("string_split(trim(text), ' ')")
    assert not TOKENIZER.search("regexp_split_to_array(trim(text), '\\s+')")
    assert TOKENIZER.search('F.split(F.trim(F.col("text")), r"\\s+")')
    assert WINDOW.search("i -> array_join(slice(w, i, 5), ' ')")
