"""Column-expression T-ops (SURVEY.md §2.7) and the ordered group concat.

The kernel implements T1-T8 in Python for the per-turn path. These are the
relational spellings that the relational slices (`operators.relational`)
and their DuckDB oracles mirror: Catalyst column expressions (whole-stage
codegen, no Python), one definition each. They do not carry the kernel's
semantics: T5 strips leading `#-*` markers before prefixing (`'- Intro'`
-> `'# Intro'`, where the kernel gives `'# - Intro'`), and T7 leaves an
enumeration without a space alone (`'1.item'` stays, where the kernel
gives `'1. item'`). Where Java regex backreferences would be needed
(`(\\.)\\1{2,}`), the pattern is rewritten backreference-free (`\\.{4,}`)
with identical output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from glm_ocr_spark.config import LABEL_TO_VIS


def clean_punct_runs_col(c: Column) -> Column:
    """T1: collapse >=4 runs of . · _ to exactly 3
    (result_formatter.py:228-231)."""
    c = F.regexp_replace(c, r"\.{4,}", "...")
    c = F.regexp_replace(c, "·{4,}", "···")
    c = F.regexp_replace(c, "_{4,}", "___")
    return c


def title_format_col(c: Column, is_doc_title: Column) -> Column:
    """T5: strip leading #/-/* markers, prefix '# ' or '## '
    (result_formatter.py:247-256)."""
    stripped = F.regexp_replace(c, r"^[#\-\*\s]+", "")
    return F.when(is_doc_title, F.concat(F.lit("# "), stripped)) \
            .otherwise(F.concat(F.lit("## "), stripped))


def formula_wrap_col(c: Column) -> Column:
    """T6: unwrap $$..$$ / \\[..\\] / \\(..\\), re-wrap as $$\\n..\\n$$
    (result_formatter.py:258-270)."""
    unwrapped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, r"^\$\$(.*)\$\$$", r"$1"),
            r"^\\\[(.*)\\\]$", r"$1"),
        r"^\\\((.*)\\\)$", r"$1")
    return F.concat(F.lit("$$\n"), F.trim(unwrapped), F.lit("\n$$"))


def enum_normalize_col(c: Column) -> Column:
    """T7: bullet/enumeration prefixes -> canonical '- ' / '(n) '
    (result_formatter.py:272-297)."""
    c = F.regexp_replace(c, r"^[·•]\s*", "- ")
    c = F.regexp_replace(c, r"^\*\s+", "- ")
    c = F.regexp_replace(c, r"^\((\d+)\)\s*", r"($1) ")
    return c


def ordered_join_col(key: str, value: str, sep: str,
                     keep: Column | None = None) -> Column:
    """A5 (aggregate): the group's `value`s joined with `sep` in ascending
    `key` order (result_formatter.py:206-210). Rows where `keep` is not
    true are left out, leaving no separator; null values are skipped by
    `array_join`."""
    s = F.struct(key, value)
    if keep is not None:
        s = F.when(keep, s)
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(s)), lambda x: x[value]), sep)


def map_label_col(c: Column) -> Column:
    """T8: native 25-class label -> coarse output label as a chained when
    (broadcastable alternative: a tiny dim-table join)."""
    expr = None
    for native, coarse in LABEL_TO_VIS.items():
        cond = c == native
        expr = F.when(cond, coarse) if expr is None else expr.when(cond, coarse)
    return expr.otherwise(c)
