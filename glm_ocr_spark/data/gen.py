"""Deterministic synthetic transcripts generator.

Schema is exactly BASELINE.json's input_hint:
  transcripts(conv_id string, turn_idx int, role string, text string,
              tool string, ts timestamp)

Every value is a pure function of (conv_id, turn_idx) with seed 42
(FIXTURES.md §1): any row can be re-derived independently, so generation is
embarrassingly parallel (spark.range over turn ordinals -> mapInPandas) and
resume tests can regenerate arbitrary slices without coordination.

Payloads exercise every heuristic in SURVEY.md §2 (FIXTURES.md cases 1-13):
titles, formulas+numbers (both adjacency orders incl. fullwidth), hyphenation
merges (valid + invalid), bullet runs with a missing middle bullet,
repeated-content pathologies, punctuation runs, enumeration prefixes,
boilerplate header/footer/number/footnote (abandon class), NMS duplicate
geometry, containment nests, oversize images, degenerate boxes, reading-order
scrambles (annotated order and XY-cut two-column), whitespace-only blocks,
CJK content, tables, skip-class images/charts.
"""

from __future__ import annotations

import datetime as dt
import random

SEED = 42

# Long-conversation skew (FIXTURES.md: a few conversations with 100-1000x
# median turn count). Every 97th conversation is heavy.
HEAVY_EVERY = 97
HEAVY_TURNS = 1500


def n_conversations(sf: float) -> int:
    return max(10, round(50 * sf / 0.001))


def n_turns(conv_idx: int) -> int:
    if conv_idx % HEAVY_EVERY == 0:
        return HEAVY_TURNS
    r = random.Random(f"{SEED}:nturns:{conv_idx}")
    return 20 + r.randrange(180)


def conv_id_of(conv_idx: int) -> str:
    return f"conv{conv_idx:06d}"


_WORDS = (
    "the quick analysis of large scale data shows that information "
    "systems process documents through a pipeline of extraction and "
    "transformation stages where each segment carries important context "
    "about structure language and content while models learn features "
    "from training examples under different distribution assumptions"
).split()

_CJK = "数据处理流水线从多轮对话中抽取正文内容并保持稳定的阅读顺序与字符跨度"


def _sentence(r: random.Random, n: int) -> str:
    return " ".join(r.choice(_WORDS) for _ in range(n))


# --------------------------------------------------------------------------
# Annotated-mode block templates. Each returns a list of
# (label, score, bbox, content) tuples laid out inside a vertical band
# [y0, y1); reading order is list order.
# --------------------------------------------------------------------------

def _t_title_paragraphs(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 3
    return [
        ("doc_title", 0.97, (100, y0, 900, y0 + h - 5),
         r.choice(["Document Analysis Report", "## Existing Heading",
                   "# Already Titled", "Pipeline Overview"])),
        ("text", 0.9, (50, y0 + h, 950, y0 + 2 * h - 5), _sentence(r, 14) + "."),
        ("text", 0.85, (50, y0 + 2 * h, 950, y1 - 5), _sentence(r, 10) + "."),
    ]


def _t_formula_number(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    num = r.randrange(1, 40)
    wrap = r.choice(["$$E_{%d} = mc^2 + \\alpha_%d$$", "\\[x_%d = y + z_%d\\]",
                     "\\(a_%d + b_%d\\)", "F_%d(x) = \\int_0^x t_%d dt"])
    formula = wrap % (num, num)
    number = r.choice(["(%d)", "（%d）", "(%d.1)", "%d"]) % num
    if r.random() < 0.5:  # formula then number
        return [
            ("display_formula", 0.92, (150, y0, 750, y0 + h - 5), formula),
            ("formula_number", 0.8, (800, y0, 900, y0 + h - 5), number),
            ("text", 0.88, (50, y0 + h, 950, y1 - 5), _sentence(r, 8) + "."),
        ]
    return [
        ("formula_number", 0.8, (100, y0, 200, y0 + h - 5), number),
        ("display_formula", 0.92, (250, y0, 850, y0 + h - 5), formula),
        ("text", 0.88, (50, y0 + h, 950, y1 - 5), _sentence(r, 8) + "."),
    ]


_HYPHEN_PAIRS = [
    ("informa", "tion about the corpus follows here"),
    ("exam", "ples of merged content appear below"),
    ("pro", "cessing continues on the next block"),
    ("distribu", "tion of keys is skewed in practice"),
    ("computa", "tion finishes after the final stage"),
]
_HYPHEN_BAD = [("xq", "zzt qqq vvk"), ("zzz", "qqqy unknownword here")]


def _t_hyphenation(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    if r.random() < 0.7:
        a, b = r.choice(_HYPHEN_PAIRS)
    else:
        a, b = r.choice(_HYPHEN_BAD)
    return [
        ("text", 0.9, (50, y0, 950, y0 + h - 5),
         _sentence(r, 6) + f" {a}-"),
        ("text", 0.9, (50, y0 + h, 950, y1 - 5),
         f"{b} " + _sentence(r, 5) + "."),
    ]


def _t_bullets(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 3
    aligned = r.random() < 0.7
    mid_x = 60 if aligned else 200
    return [
        ("text", 0.9, (60, y0, 950, y0 + h - 5), "- first point " + _sentence(r, 4)),
        ("text", 0.9, (mid_x, y0 + h, 950, y0 + 2 * h - 5),
         "middle point " + _sentence(r, 4)),
        ("text", 0.9, (60, y0 + 2 * h, 950, y1 - 5), "- third point " + _sentence(r, 4)),
    ]


def _t_repeat_pathology(r: random.Random, y0: int, y1: int):
    if r.random() < 0.5:
        unit = "repeated segment unit %d " % r.randrange(10)
        body = _sentence(r, 12) + " " + unit * 80  # >2048 chars, >=10 repeats
    else:
        line = "SAME BOILERPLATE LINE %d" % r.randrange(5)
        body = "\n".join([line] * 14) + "\nterminal unique line " + _sentence(r, 60)
        body += " " + _sentence(r, 200)  # push over the 2048 gate
    return [("text", 0.9, (50, y0, 950, y1 - 5), body)]


def _t_punct_runs(r: random.Random, y0: int, y1: int):
    content = r.choice([
        "\\t\\tContents " + "." * r.randrange(5, 15) + " 42",
        "chapter heading " + "·" * r.randrange(4, 12),
        "fill in " + "_" * r.randrange(4, 12) + " the blank\\t",
        "escaped " + "\\_" * r.randrange(4, 10) + " run",
    ])
    return [("text", 0.9, (50, y0, 950, y1 - 5), content)]


def _t_enumeration(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    first = r.choice(["·alpha item", "•beta item", "* gamma item",
                      "(1)numbered item", "（a）fullwidth item"])
    second = r.choice(["1.dotted item", "2)parenthesized item", "b）fullwidth sep",
                       "(12)wide number"])
    return [
        ("text", 0.9, (50, y0, 950, y0 + h - 5), first + " " + _sentence(r, 3)),
        ("text", 0.9, (50, y0 + h, 950, y1 - 5), second + " " + _sentence(r, 3)),
    ]


def _t_titles_to_strip(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    return [
        ("paragraph_title", 0.93, (80, y0, 800, y0 + h - 5),
         r.choice(["## Existing subhead", "- Dashed title", "* Starred title",
                   "### Deep heading"])),
        ("text", 0.88, (50, y0 + h, 950, y1 - 5), _sentence(r, 9) + "."),
    ]


def _t_geometry_nms(r: random.Random, y0: int, y1: int):
    # same-class near-duplicates (IoU > 0.6): lower score suppressed;
    # plus a cross-class overlap below 0.98 that must survive.
    h = y1 - y0 - 10
    base = (100, y0, 800, y0 + h)
    shifted = (110, y0 + 4, 810, y0 + h + 4)
    return [
        ("text", 0.95, base, "winner block " + _sentence(r, 6)),
        ("text", 0.55, shifted, "loser duplicate " + _sentence(r, 6)),
        ("table", 0.9, (450, y0 + 2, 950, y0 + h),
         "<tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td></tr>"),
    ]


def _t_containment(r: random.Random, y0: int, y1: int):
    # inner text contained >=0.8 in outer text -> 'large' mode keeps outer;
    # preserved image inside a block must survive.
    h = y1 - y0 - 10
    return [
        ("text", 0.9, (50, y0, 950, y0 + h), "outer container " + _sentence(r, 10)),
        ("text", 0.7, (100, y0 + 10, 900, y0 + h - 10), "inner contained text"),
        ("image", 0.85, (120, y0 + 15, 300, y0 + h // 2), ""),
    ]


def _t_oversize_image(r: random.Random, y0: int, y1: int):
    return [
        ("image", 0.9, (5, 5, 995, 990), ""),  # covers ~98% of page -> dropped
        ("text", 0.9, (50, y0, 950, y1 - 5), "caption text " + _sentence(r, 5)),
    ]


def _t_degenerate(r: random.Random, y0: int, y1: int):
    return [
        ("text", 0.9, (400, y0, 400, y1 - 5), "zero width, dropped"),
        ("text", 0.9, (50, y0, 950, y1 - 5), "valid sibling " + _sentence(r, 6)),
    ]


def _t_low_score(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    return [
        ("text", 0.12, (50, y0, 950, y0 + h - 5), "below threshold noise"),
        ("text", 0.9, (50, y0 + h, 950, y1 - 5), _sentence(r, 7) + "."),
    ]


def _t_boilerplate(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 4
    return [
        ("header", 0.9, (50, y0, 950, y0 + h - 5), "RUNNING HEAD | Corp intranet"),
        ("text", 0.9, (50, y0 + h, 950, y0 + 3 * h - 5), _sentence(r, 12) + "."),
        ("footer", 0.9, (50, y0 + 3 * h, 700, y1 - 5), "confidential footer"),
        ("number", 0.88, (850, y0 + 3 * h, 950, y1 - 5), str(r.randrange(1, 99))),
    ]


def _t_table(r: random.Random, y0: int, y1: int):
    rows = "".join(
        f"<tr><td>row{i}</td><td>{r.randrange(100)}</td></tr>" for i in range(3)
    )
    return [
        ("table", 0.94, (100, y0, 900, y1 - 5),
         f"<tr><th>name</th><th>value</th></tr>{rows}"),
    ]


def _t_skip_classes(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    return [
        ("chart", 0.9, (100, y0, 500, y0 + h - 5), ""),
        ("figure_title", 0.9, (100, y0 + h, 600, y1 - 5),
         "Figure %d: %s" % (r.randrange(1, 20), _sentence(r, 4))),
    ]


def _t_cjk(r: random.Random, y0: int, y1: int):
    return [("text", 0.9, (50, y0, 950, y1 - 5),
             _CJK + "。编号" + str(r.randrange(100)))]


def _t_whitespace_only(r: random.Random, y0: int, y1: int):
    h = (y1 - y0) // 2
    return [
        ("text", 0.9, (50, y0, 950, y0 + h - 5), "   \\t  "),
        ("text", 0.9, (50, y0 + h, 950, y1 - 5), _sentence(r, 6) + "."),
    ]


_TEMPLATES = [
    _t_title_paragraphs, _t_formula_number, _t_hyphenation, _t_bullets,
    _t_repeat_pathology, _t_punct_runs, _t_enumeration, _t_titles_to_strip,
    _t_geometry_nms, _t_containment, _t_oversize_image, _t_degenerate,
    _t_low_score, _t_boilerplate, _t_table, _t_skip_classes, _t_cjk,
    _t_whitespace_only,
]


def _annotated_payload(r: random.Random) -> str:
    n_bands = r.randrange(2, 5)
    band_h = 1000 // n_bands
    specs: list[tuple[str, float, tuple, str]] = []
    for band in range(n_bands):
        t = r.choice(_TEMPLATES)
        specs.extend(t(r, band * band_h + 2, (band + 1) * band_h - 2))
    with_order = r.random() < 0.75
    emit = list(enumerate(specs, start=1))  # (reading order, spec)
    r.shuffle(emit)  # scrambled emission order (FIXTURES case 10)
    parts = ['<page w="1000" h="1000"/>']
    for order, (label, score, bbox, content) in emit:
        bbox_s = ",".join(str(int(v)) for v in bbox)
        order_attr = f' order="{order}"' if with_order else ""
        parts.append(
            f'<block label="{label}" score="{score}" bbox="{bbox_s}"{order_attr}>'
            f"{content}</block>"
        )
    return "\n".join(parts)


def _plain_payload(r: random.Random) -> str:
    parts = ["<header>site chrome | nav | login</header>"]
    parts.append(f"<h1>{_sentence(r, 4).title()}</h1>")
    n = r.randrange(2, 6)
    for _ in range(n):
        kind = r.random()
        if kind < 0.5:
            parts.append(f"<p>{_sentence(r, r.randrange(8, 25))}.</p>")
        elif kind < 0.65:
            parts.append(f"<h2>{_sentence(r, 3).title()}</h2>")
        elif kind < 0.75:
            parts.append("<p>$$y = f(x_%d)$$</p>" % r.randrange(10))
        elif kind < 0.85:
            parts.append(
                "<p>see <a href=\"#\">link</a> and <a href=\"#\">another "
                "link</a> plus <a href=\"#\">more links</a> here</p>")
        else:
            parts.append("\n\n" + _sentence(r, r.randrange(6, 15)) + ".\n\n")
    if r.random() < 0.4:
        parts.append('<img src="fig.png"/>')
    parts.append("<footer>© corp 2026 · all rights reserved</footer>")
    parts.append(f"<nav><a href=\"#\">home</a> <a href=\"#\">docs</a></nav>")
    return "\n".join(parts)


def _tool_payload(r: random.Random) -> str:
    return (
        '{"status": "ok", "rows": %d, "elapsed_ms": %d, "note": "%s"}'
        % (r.randrange(10_000), r.randrange(5_000), _sentence(r, 5))
    )


def gen_turn_payload(conv_id: str, turn_idx: int) -> tuple[str, str, str]:
    """(role, text, tool) for one turn — pure function of the key."""
    r = random.Random(f"{SEED}:{conv_id}:{turn_idx}")
    if turn_idx == 0:
        return "system", "<p>You are a helpful assistant.</p>", ""
    if turn_idx % 5 == 3:
        return "tool", _tool_payload(r), r.choice(["search", "browser", "sql", "calc"])
    role = "user" if turn_idx % 2 == 1 else "assistant"
    if r.random() < 0.7:
        return role, _annotated_payload(r), ""
    return role, _plain_payload(r), ""


_EPOCH = dt.datetime(2026, 1, 1)


def gen_turn_row(conv_idx: int, turn_idx: int) -> dict:
    conv_id = conv_id_of(conv_idx)
    role, text, tool = gen_turn_payload(conv_id, turn_idx)
    ts = _EPOCH + dt.timedelta(minutes=conv_idx, seconds=13 * turn_idx)
    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": ts,
    }


def turn_offsets(sf: float) -> list[int]:
    """Cumulative turn offsets per conversation: offsets[c] = first global
    turn ordinal of conversation c; offsets[-1] = total turns. O(n_conv) on
    the driver — thousands of entries, not per-turn."""
    offsets = [0]
    for c in range(n_conversations(sf)):
        offsets.append(offsets[-1] + n_turns(c))
    return offsets


def transcripts_df(spark, sf: float, num_partitions: int | None = None):
    """Distributed generation over *global turn ordinals*.

    spark.range over [0, total_turns) gives perfectly uniform partitions by
    construction — a 1500-turn heavy conversation is spread across many
    partitions instead of pinning one (the generation-side analog of the
    pipeline's salted repartition; SURVEY.md §7.3.4 skew handling). Each row
    is derived independently from its ordinal via binary search in the
    offsets table (pure function of the key; no shuffle, no driver data).
    """
    import bisect

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])

    offsets = turn_offsets(sf)
    total = offsets[-1]
    parts = num_partitions or min(
        max(64, spark.sparkContext.defaultParallelism * 4), max(total // 500, 1)
    )
    ordinals = spark.range(0, total, 1, parts)

    def expand(batches):
        for pdf in batches:
            rows = []
            for ordinal in pdf["id"]:
                o = int(ordinal)
                c = bisect.bisect_right(offsets, o) - 1
                rows.append(gen_turn_row(c, o - offsets[c]))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )

    return ordinals.mapInPandas(expand, schema=schema)
