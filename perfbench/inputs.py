"""Seeded inputs. Every corpus is a pure function of the seed.

Transcript payloads come from `glm_ocr_spark.data.gen.gen_turn_payload`,
which is a pure function of `(conv_id, turn_idx)`; a new corpus per seed
comes from seed-prefixed conversation ids. The dense pages, the adversarial
rows and the dedup documents and embeddings are built here.

Builds happen outside every timed region. They are cached under
`.bench/perfbench/inputs/` (ignored by git) and written to a temporary
directory first, then renamed, so an interrupted build never looks finished.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from glm_ocr_spark.data.gen import gen_turn_payload, n_turns

# bump when any generator here changes, so stale caches are never reused
VERSION = 3

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench", "perfbench", "inputs")

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])

_EPOCH = dt.datetime(2026, 1, 1)

# ------------------------------------------------------------ transcripts

ADVERSARIAL_KINDS = ("null_text", "bad_score", "unclosed_block",
                     "huge_payload", "cjk_emoji")
PLANTED_FRAC = 0.001


def _adversarial_payload(kind: str, r: random.Random) -> str | None:
    page = '<page w="1000" h="1000"/>'
    if kind == "null_text":
        return None
    if kind == "bad_score":
        return "\n".join([
            page,
            '<block label="text" score="abc" bbox="50,40,950,300" order="1">'
            f"malformed score attribute {r.randrange(10**6)}</block>",
            '<block label="paragraph_title" score="0.9" bbox="50,400,950,480"'
            ' order="2">Valid heading</block>',
        ])
    if kind == "unclosed_block":
        return "\n".join([
            page,
            '<block label="text" score="0.9" bbox="50,40,950,300" order="1">'
            "closed first block.</block>",
            '<block label="text" score="0.9" bbox="50,400,950,700" order="2">'
            f"unterminated block {r.randrange(10**6)} never closes",
        ])
    if kind == "huge_payload":
        # a repeating unit: the repeat-truncation regex matches near the
        # start. Non-repeating text this long costs that regex minutes per
        # block (quadratic in length), which a benchmark run cannot afford.
        unit = f"repeated payload unit {r.randrange(10**6)} of a long block | "
        body = (f"unique preamble {r.randrange(10**6)} before the loop. "
                + unit * (200_000 // len(unit) + 1))[:200_000]
        return (f'{page}\n<block label="text" score="0.9" '
                f'bbox="20,20,980,980" order="1">{body}</block>')
    if kind == "cjk_emoji":
        return "\n".join([
            page,
            '<block label="doc_title" score="0.95" bbox="80,30,900,120" '
            'order="1">数据处理 📄 報告</block>',
            '<block label="text" score="0.9" bbox="50,200,950,600" '
            'order="2">多轮对话 👩‍💻 emoji 🚀🔥 and combining é text '
            f"{r.randrange(1000)} 。</block>",
        ])
    raise ValueError(f"unknown adversarial kind {kind!r}")


def transcript_rows(seed: int, total: int) -> tuple[list[dict], list[dict]]:
    """Exactly `total` transcript rows in the `data/gen.py` mix, with two
    seeded slices planted among them, 0.1% of the rows each: adversarial
    rows, and dense pages (`dense_rows`) whose block counts span the
    small/numpy geometry threshold. Returns (rows, planted) where each
    planted entry names its (conv_id, turn_idx), kind and block count."""
    r = random.Random(f"perfbench:transcripts:{seed}")
    rows: list[dict] = []
    while len(rows) < total:
        conv_idx = r.randrange(1, 10**6)
        conv_id = f"s{seed}-conv{conv_idx:06d}"
        for t in range(min(n_turns(conv_idx), total - len(rows))):
            role, text, tool = gen_turn_payload(conv_id, t)
            rows.append({
                "conv_id": conv_id, "turn_idx": t, "role": role,
                "text": text, "tool": tool,
                "ts": _EPOCH + dt.timedelta(minutes=conv_idx % 100_000,
                                            seconds=13 * t),
            })
    n_adv = max(len(ADVERSARIAL_KINDS), round(total * PLANTED_FRAC))
    n_dense = max(4, round(total * PLANTED_FRAC))
    at = r.sample(range(total), n_adv + n_dense)
    planted = []
    for k, i in enumerate(at[:n_adv]):
        kind = ADVERSARIAL_KINDS[k % len(ADVERSARIAL_KINDS)]
        rows[i].update(role="user", tool="",
                       text=_adversarial_payload(kind, r))
        planted.append((i, kind, 0))
    for i, page in zip(at[n_adv:], dense_rows(seed, n_dense)):
        rows[i].update(role="user", tool="", text=page["text"])
        planted.append((i, "dense", page["text"].count("<block")))
    return rows, [{"conv_id": rows[i]["conv_id"],
                   "turn_idx": rows[i]["turn_idx"], "kind": kind,
                   "blocks": blocks} for i, kind, blocks in sorted(planted)]


# ------------------------------------------------------------ dense pages

DENSE_MIN_BLOCKS = 30
DENSE_MAX_BLOCKS = 900
_DENSE_LABELS = (
    ("text", 0.55), ("paragraph_title", 0.12), ("table", 0.06),
    ("image", 0.06), ("display_formula", 0.05), ("formula_number", 0.04),
    ("figure_title", 0.04), ("header", 0.03), ("footer", 0.03),
    ("number", 0.02),
)
_WORDS = ("layout", "region", "column", "reading", "order", "block", "page",
          "figure", "table", "caption", "dense", "scan", "document", "text",
          "model", "detector", "score", "merge", "spark", "arrow")


def dense_block_counts(n_pages: int) -> list[int]:
    """Stratified log-uniform block counts on [30, 900]: every seed gets
    the same multiset of page sizes, on both sides of the small/numpy
    geometry threshold, so seeds differ in content but not in cost mix."""
    lo, hi = math.log(DENSE_MIN_BLOCKS), math.log(DENSE_MAX_BLOCKS)
    return [round(math.exp(lo + (hi - lo) * (i + 0.5) / n_pages))
            for i in range(n_pages)]


def _dense_payload(r: random.Random, n: int, with_order: bool) -> str:
    """One annotated page of `n` blocks on a multi-column grid, with
    planted same-class near-duplicates (NMS), nested boxes (containment)
    and low-score blocks (threshold). Without `order` the page goes through
    XY-cut."""
    cols = max(1, round(math.sqrt(n / 3)))
    grid_rows = math.ceil(n / cols)
    cell_w, cell_h = 1000 // cols, 40
    page_h = cell_h * grid_rows + 20
    labels = [lab for lab, _ in _DENSE_LABELS]
    weights = [w for _, w in _DENSE_LABELS]
    specs = []
    for k in range(n):
        row, col = divmod(k, cols)
        x1 = col * cell_w + r.randrange(2, 8)
        y1 = row * cell_h + r.randrange(2, 6)
        x2 = (col + 1) * cell_w - r.randrange(2, 8)
        y2 = (row + 1) * cell_h - r.randrange(2, 6)
        label = r.choices(labels, weights)[0]
        score = round(r.uniform(0.5, 0.99), 2)
        roll = r.random()
        if roll < 0.05 and specs:  # near-duplicate of the previous block
            label, _, (px1, py1, px2, py2), _ = specs[-1]
            x1, y1, x2, y2 = px1 + 1, py1 + 1, px2 + 1, py2
            score = 0.45
        elif roll < 0.10 and specs:  # nested inside the previous block
            _, _, (px1, py1, px2, py2), _ = specs[-1]
            x1, y1 = px1 + 3, py1 + 3
            x2, y2 = max(x1 + 2, px2 - 3), max(y1 + 2, py2 - 3)
        elif roll < 0.13:
            score = 0.1  # below the score threshold
        content = " ".join(r.choice(_WORDS) for _ in range(r.randrange(3, 12)))
        if label == "formula_number":
            content = f"({r.randrange(1, 99)})"
        elif label == "number":
            content = str(r.randrange(1, 400))
        elif label == "image":
            content = ""
        specs.append((label, score, (x1, y1, x2, y2), content))
    emit = list(enumerate(specs, start=1))
    r.shuffle(emit)
    parts = [f'<page w="1000" h="{page_h}"/>']
    for order, (label, score, bbox, content) in emit:
        order_attr = f' order="{order}"' if with_order else ""
        parts.append(f'<block label="{label}" score="{score}" '
                     f'bbox="{",".join(map(str, bbox))}"{order_attr}>'
                     f"{content}</block>")
    return "\n".join(parts)


def dense_rows(seed: int, n_pages: int) -> list[dict]:
    """`n_pages` dense pages, one per row. Half the pages carry no `order`;
    both halves share the same block-count distribution."""
    r = random.Random(f"perfbench:dense:{seed}")
    pages = [(n, i % 2 == 0) for i, n in enumerate(dense_block_counts(n_pages))]
    r.shuffle(pages)
    return [{
        "conv_id": f"s{seed}-page{i:05d}", "turn_idx": 1, "role": "user",
        "text": _dense_payload(r, n, with_order), "tool": "",
        "ts": _EPOCH + dt.timedelta(seconds=i),
    } for i, (n, with_order) in enumerate(pages)]


# ------------------------------------------------------------------ dedup

DUP_FRAC = 0.05
DOC_WORDS = 60
CLIQUE = 4          # embeddings per planted near-duplicate clique
EMB_DIM = 64
EMB_NOISE = 1e-4


def dedup_docs(seed: int, n_docs: int) -> tuple[list[dict], list[int]]:
    """High-entropy documents (random words from a 20k pseudo-word
    vocabulary: unrelated documents share no 3-gram) with 5% planted
    near-duplicates. Each duplicate copies an earlier, non-duplicate
    document with one word replaced (3-gram Jaccard ~0.9). Returns (docs,
    sorted duplicate ids): dedup keeps every id except the duplicates."""
    r = random.Random(f"perfbench:docs:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = ["".join(r.choice(letters) for _ in range(r.randrange(4, 10)))
             for _ in range(20_000)]
    texts = [[r.choice(vocab) for _ in range(DOC_WORDS)]
             for _ in range(n_docs)]
    n_dups = round(n_docs * DUP_FRAC)
    dup_ids = sorted(r.sample(range(n_docs // 4, n_docs), n_dups))
    dup_set = set(dup_ids)
    originals = [i for i in range(n_docs // 4) if i not in dup_set]
    for d, o in zip(dup_ids, r.sample(originals, n_dups)):
        words = list(texts[o])
        words[r.randrange(5, DOC_WORDS - 5)] = "planted" + str(d)
        texts[d] = words
    docs = [{"doc_id": i, "text": " ".join(w)} for i, w in enumerate(texts)]
    return docs, dup_ids


def embeddings(seed: int, n: int) -> tuple[np.ndarray, list[int]]:
    """(n x 64 float64 matrix, sorted planted-duplicate vec_ids). Random
    Gaussian directions (pairwise cosine ~N(0, 1/64), never near the 0.9
    threshold) plus near-duplicate cliques: CLIQUE-1 tiny perturbations of
    a base vector, placed at later vec_ids, so the base survives and every
    other member is dropped."""
    rng = np.random.Generator(np.random.PCG64(seed))
    x = rng.standard_normal((n, EMB_DIM))
    n_cliques = round(n * DUP_FRAC / (CLIQUE - 1))
    slots = rng.permutation(np.arange(n // 4, n))[:n_cliques * (CLIQUE - 1)]
    bases = rng.permutation(np.arange(n // 4))[:n_cliques]
    members = []
    for b, group in zip(bases, slots.reshape(n_cliques, CLIQUE - 1)):
        for m in group:
            x[m] = x[b] + EMB_NOISE * rng.standard_normal(EMB_DIM)
            members.append(int(m))
    return x, sorted(members)


# ------------------------------------------------------------------ files

def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Split `table` row-wise into `n_files` equal parquet files."""
    os.makedirs(path)
    per = math.ceil(table.num_rows / n_files)
    for k in range(n_files):
        part = table.slice(k * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def build(key: str, seed: int, make) -> tuple[str, dict]:
    """Cached build: `make(dir, seed) -> manifest` writes the inputs of
    one workload into `dir`. `key` names the workload and its sizes.
    Returns (dir, manifest)."""
    out = os.path.join(CACHE, f"{key}-s{seed}-v{VERSION}")
    manifest_path = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = make(tmp, seed)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(manifest_path) as f:
        return out, json.load(f)


def parquet_files(path: str) -> list[str]:
    """The parquet data files under `path`; checksums, markers, manifests
    and the stream sink's `_spark_metadata` log are not data."""
    return sorted(os.path.join(base, f)
                  for base, _, files in os.walk(path) for f in files
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))
