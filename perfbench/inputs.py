"""Seeded input generators for the extraction benchmark.

The benchmark owns these generators (it does not import the package's
``fixtures`` module), so an edit to the program's test fixtures cannot
move the benchmark's inputs.  Each (workload, seed) is materialized once
as parquet under the cache directory, outside any timing, and its
content digest is checked on every run.

Every generator fixes the *amount* of work independently of the seed:
turn counts, kind proportions, conversation lengths and page-size
quantiles are stratified, and only the content is drawn from the seed.
Runs with different seeds therefore measure the same work on different
text, and their spread is the machine's, not the sampler's.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import statistics
from typing import Callable, Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)

# Input files per workload, so the scan and the plain fast path run as
# several tasks, as they would over a corpus split into files.
N_FILES = 4

_WORDS = (
    "spark query data table scan filter join window group sort merge batch"
    " stream row key value hash order line part customer supplier nation"
    " region fast slow big small the a of and extraction pipeline turn"
    " transcript agent tool model content block span text density layout"
    " page session browser result answer question review report summary"
).split()
_TOOLS = ["search", "browser", "calculator", "python", "bash"]
_ROLES = ["user", "assistant", "tool"]
_BASE_TS = dt.datetime(2026, 1, 1)

Row = Tuple[str, int, str, str, object, dt.datetime]


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _exact_mix(rng: random.Random, n: int, weights: List[Tuple[str, float]]) -> List[str]:
    """``n`` labels in exactly the given proportions, in seeded order."""
    labels: List[str] = []
    for name, w in weights:
        labels.extend([name] * int(round(n * w)))
    labels = (labels + [weights[0][0]] * n)[:n]
    rng.shuffle(labels)
    return labels


def _rows(conv_lengths: List[int], texts: List[str], layout: random.Random, rng: random.Random,
          prefix: str) -> List[Row]:
    rows: List[Row] = []
    it = iter(texts)
    for ci, n_turns in enumerate(conv_lengths):
        conv_id = f"{prefix}-{ci:06d}"
        t0 = _BASE_TS + dt.timedelta(minutes=ci * 7)
        for t in range(n_turns):
            role = _ROLES[t % 3]
            rows.append(
                (
                    conv_id,
                    t,
                    role,
                    next(it),
                    rng.choice(_TOOLS) if role == "tool" else None,
                    t0 + dt.timedelta(seconds=t * 13),
                )
            )
    layout.shuffle(rows)
    return rows


# --- payload kinds --------------------------------------------------------


def _html_page(rng: random.Random) -> str:
    """A small page with link-dense boilerplate around 1-6 content blocks."""
    parts = ["<html><head><title>", _sentence(rng, 2, 4), "</title>"]
    parts.append("<script>var x = 1; /* noise */</script></head><body>\n<nav>")
    for _ in range(rng.randint(2, 5)):
        parts.append(f'<a href="/{rng.choice(_WORDS)}">{_sentence(rng, 1, 2)}</a> ')
    parts.append("</nav>\n<header><a href='/'>" + _sentence(rng, 1, 3) + "</a></header>\n")
    for _ in range(rng.randint(1, 6)):
        body = _sentence(rng, 10, 25)
        if rng.random() < 0.4:
            ws = body.split(" ")
            k = rng.randrange(len(ws))
            ws[k] = "<em>" + ws[k] + "</em>"
            body = " ".join(ws) + " &amp; more"
        tag = rng.choice(["p", "div", "p"])
        parts.append(f"<{tag}>{body}</{tag}>\n")
        if rng.random() < 0.3:
            links = " ".join(f'<a href="#">{rng.choice(_WORDS)}</a>' for _ in range(rng.randint(3, 6)))
            parts.append(f"<div>{links}</div>\n")
    parts.append("<footer>")
    for _ in range(rng.randint(2, 4)):
        parts.append(f'<a href="/f">{rng.choice(_WORDS)}</a> ')
    parts.append("</footer></body></html>")
    return "".join(parts)


def _html_sized(rng: random.Random, target: int) -> str:
    """A well-formed multi-line page of about ``target`` characters:
    sections of headings, paragraphs, lists and link bars, one per line."""
    head = f"<!doctype html>\n<html><head><title>{_sentence(rng, 2, 5)}</title></head>\n<body>\n"
    tail = "</body></html>\n"
    parts = [head]
    size = len(head) + len(tail)
    while size < target:
        r = rng.random()
        if r < 0.55:
            body = _sentence(rng, 12, 40)
            if rng.random() < 0.3:
                body += f" <b>{rng.choice(_WORDS)}</b> &amp; {_sentence(rng, 2, 6)}"
            piece = f"<p>{body}</p>\n"
        elif r < 0.7:
            piece = f"<h2>{_sentence(rng, 3, 7)}</h2>\n"
        elif r < 0.85:
            items = "".join(f"<li>{_sentence(rng, 4, 10)}</li>" for _ in range(rng.randint(2, 5)))
            piece = f"<ul>{items}</ul>\n"
        else:
            links = " ".join(
                f'<a href="/{rng.choice(_WORDS)}">{rng.choice(_WORDS)}</a>' for _ in range(rng.randint(3, 8))
            )
            piece = f"<div class=\"nav\">{links}</div>\n"
        parts.append(piece)
        size += len(piece)
    parts.append(tail)
    return "".join(parts)


def _pdf_text(rng: random.Random) -> str:
    """JSON span tree in the shape of a PDF page's text layer."""
    blocks = []
    y = 40.0
    for _ in range(rng.randint(1, 4)):
        lines = []
        for _ in range(rng.randint(1, 5)):
            n_spans = rng.randint(1, 3)
            spans = [
                {"text": _sentence(rng, 2, 6) + (" " if i < n_spans - 1 else "")} for i in range(n_spans)
            ]
            lines.append({"bbox": [72.0, y, 540.0, y + 12.0], "spans": spans})
            y += 14.0
        blocks.append({"type": 0, "lines": lines})
        if rng.random() < 0.3:
            blocks.append({"type": 1, "image": "..."})
        y += 10.0
    if rng.random() < 0.2:
        rng.shuffle(blocks)
    return json.dumps({"blocks": blocks})


def _markup(rng: random.Random) -> str:
    pre = _sentence(rng, 3, 8)
    inner = "\n".join(_sentence(rng, 3, 8) for _ in range(rng.randint(1, 3)))
    if rng.random() < 0.5:
        return f"{pre}\n```text\n{inner}\n```\ntrailing {rng.choice(_WORDS)}"
    return f"{pre}\n<output>\n{inner}\n</output>"


def _plain(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(1, 4)):
        lines.append(_sentence(rng, 3, 10))
        if rng.random() < 0.2:
            lines.append("")
    return "\n".join(lines)


def _edge(rng: random.Random) -> str:
    """Degenerate payloads the extractor's guards must cover."""
    choice = rng.randrange(6)
    if choice == 0:
        return ""
    if choice == 1:
        return "   \n\t \n  "
    if choice == 2:
        return "<p></p>\n<div>   </div>"
    if choice == 3:
        return f"<p>{_sentence(rng, 1, 2)}</p>"
    if choice == 4:
        return json.dumps({"blocks": []})
    return "```\n\n```"


def _brace_question(rng: random.Random) -> str:
    """A plain question that quotes a brace, which keeps it off the JVM
    plain fast path."""
    return f"what does {{{rng.choice(_WORDS)}: {rng.randint(0, 99)}}} mean for {_sentence(rng, 2, 6)}?"


# --- workloads ------------------------------------------------------------
#
# A workload draws its *layout* (conversation lengths, which turn gets
# which kind or page size, row order) from a fixed RNG, and its *content*
# from the seed.  Every seed then puts the same work on the same tasks and
# ranges, so the spread between seeds is the host's, not the sampler's.


def gen_mixed(seed: int) -> List[Row]:
    """The fixture kind mix over Zipf conversation lengths with one
    mega-conversation; salt and the exchange carry the skew."""
    layout, rng = random.Random("mixed-layout"), random.Random(seed)
    n_convs = 400
    lengths = [max(2, int(10 * (1 + 20.0 / (i + 1) ** 1.3))) for i in range(n_convs)]
    lengths[0] = 1500  # the mega-conversation
    gens: Dict[str, Callable[[random.Random], str]] = {
        "html": _html_page, "pdf_text": _pdf_text, "markup": _markup, "plain": _plain, "edge": _edge,
    }
    kinds = _exact_mix(
        layout, sum(lengths),
        [("html", 0.35), ("pdf_text", 0.20), ("markup", 0.15), ("plain", 0.20), ("edge", 0.10)],
    )
    return _rows(lengths, [gens[k](rng) for k in kinds], layout, rng, "mix")


def gen_web_pages(seed: int) -> List[Row]:
    """Browsing sessions of well-formed HTML pages.  Page sizes follow a
    log-normal with a 24 KB median, taken at stratified quantiles; 1% of
    the pages are large, spread evenly in log-size over 256 KB - 1 MB.
    Each session also holds one short non-page turn (a question quoting
    braces, a tool result or a PDF text layer), so every kernel kind is
    timed; none of them is provably plain, so the fast path never fires."""
    layout, rng = random.Random("web_pages-layout"), random.Random(seed)
    n_sessions, pages_per = 25, 8
    n = n_sessions * pages_per
    ppf = statistics.NormalDist(mu=math.log(24_000), sigma=0.7).inv_cdf
    sizes = [int(math.exp(ppf((i + 0.5) / n))) for i in range(n)]
    n_big = max(1, n // 100)
    for j in range(n_big):
        sizes[n - 1 - j] = int(262_144 * 4 ** ((j + 0.5) / n_big))
    layout.shuffle(sizes)
    asides = (_brace_question, _markup, _pdf_text)
    texts: List[str] = []
    for i in range(n_sessions):
        texts.append(asides[i % len(asides)](rng))
        texts.extend(_html_sized(rng, s) for s in sizes[i * pages_per : (i + 1) * pages_per])
    return _rows([pages_per + 1] * n_sessions, texts, layout, rng, "web")


GENERATORS: Dict[str, Callable[[int], List[Row]]] = {
    "mixed": gen_mixed,
    "web_pages": gen_web_pages,
}

# Sink and exchange settings per workload: checkpoint buckets, checkpoint
# ranges (one Spark job each), exchange width and salt buckets.
SINK = {
    "mixed": {"num_buckets": 16, "num_ranges": 4, "partitions": 4, "salt": 8},
    "web_pages": {"num_buckets": 16, "num_ranges": 2, "partitions": 8, "salt": 8},
}


# --- materialization ------------------------------------------------------


def digest_table(table: pa.Table) -> str:
    """SHA-256 over every cell, in row order."""
    h = hashlib.sha256()
    for batch in table.to_batches():
        cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for row in zip(*cols):
            h.update(repr(row).encode("utf-8"))
            h.update(b"\x1e")
    return h.hexdigest()


def _to_table(rows: List[Row]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)


def materialize(workload: str, seed: int, cache_dir: str) -> Tuple[str, pa.Table]:
    """Return ``(input_dir, table)`` for (workload, seed), generating the
    parquet files on first use.  The stored digest is checked on every
    call; a mismatch raises instead of measuring a different input."""
    in_dir = os.path.join(cache_dir, f"{workload}-seed{seed}")
    digest_path = in_dir + ".sha256"
    if not os.path.exists(digest_path):
        table = _to_table(GENERATORS[workload](seed))
        tmp = in_dir + ".tmp"
        for stale in (tmp, in_dir):
            shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(tmp)
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:02d}.parquet"))
        os.replace(tmp, in_dir)
        with open(digest_path, "w") as f:
            f.write(digest_table(table))
    table = pa.concat_tables(
        pq.read_table(os.path.join(in_dir, fn), schema=SCHEMA) for fn in sorted(os.listdir(in_dir))
    )
    with open(digest_path) as f:
        expected = f.read().strip()
    actual = digest_table(table)
    if actual != expected:
        raise RuntimeError(f"input digest mismatch for {in_dir}: {actual} != {expected}")
    return in_dir, table
