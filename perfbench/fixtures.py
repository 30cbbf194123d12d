"""Seeded benchmark inputs and their expected outputs, built without Spark.

Each fixture is a pure function of (size, seed) and is cached on disk under
``<work>/fixtures``. A fixture directory appears only once it is complete:
it is built under a temporary name and renamed into place.

The expected outputs never go through the engine:

- log fields come from ``datagen.fields_for_ids`` (the generator's own
  golden values); only the malformed rows (``id % 97 == 0``) and the
  hand-written edge rows (ids 1-5) are parsed, by the pure-Python cursor
  oracle ``parse/oracle.py``, from the very bytes the engine receives;
- the report text is rendered here from those fields, following the
  reference CLI's print format (c/main.c:485-523);
- the (country, ua_class) rollup matches the package's CIDR and UA rule
  tables with Python's ``ipaddress`` and ``re``;
- the near-duplicate pair set is an all-pairs exact Jaccard.
"""

from __future__ import annotations

import ipaddress
import json
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nginx_log_spark.datagen import fields_for_ids, sequences_pandas
from nginx_log_spark.datagen.loggen import MALFORMED_MOD
from nginx_log_spark.enrich import default_cidr_table
from nginx_log_spark.enrich.ua import DEFAULT_UA_RULES
from nginx_log_spark.parse import oracle

# input files per fixture: one per core, so no scan runs in a single task
FILES = 4
EDGE_IDS = range(1, 6)
REPORT_WIDTH = 80
TOP_K = 100
FIELDS = (
    "remote_addr remote_user time_local request status body_bytes_sent "
    "http_referer http_user_agent http_x_forwarded_for"
).split()


@dataclass(frozen=True)
class LogFixture:
    """Tokenized log table plus everything a run of it must produce."""

    seq_path: str
    rows: int
    valid: int
    report: str
    sink_counts: dict[str, int]  # "sink|status_class|source" -> rows
    rollup: dict[str, int]  # "country|ua_class" -> accepted rows


@dataclass(frozen=True)
class DocsFixture:
    """Document table plus its exact near-duplicate pair set."""

    docs_path: str
    pairs: frozenset[tuple[int, int]]


def _build_once(target: Path, build) -> None:
    if target.exists():
        return
    tmp = target.with_name(f"{target.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    try:
        tmp.rename(target)
    except OSError:  # another run finished the same fixture first
        if not target.exists():
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def _write_parts(df: pd.DataFrame, out: Path) -> None:
    out.mkdir()
    for p, part in enumerate(np.array_split(np.arange(len(df)), FILES)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, out / f"part-{p:05d}.parquet")


# ---------------------------------------------------------------------------
# log fixture (feeds `ingest`)
# ---------------------------------------------------------------------------


def log_fixture(work: Path, rows: int, seed: int) -> LogFixture:
    target = work / "fixtures" / f"log-{rows}-{seed}"
    _build_once(target, lambda d: _build_log(d, rows, seed))
    exp = json.loads((target / "expected.json").read_text())
    return LogFixture(
        seq_path=str(target / "seq"),
        rows=rows,
        valid=exp["valid"],
        report=(target / "report.txt").read_text(encoding="utf-8"),
        sink_counts=exp["sink_counts"],
        rollup=exp["rollup"],
    )


def _build_log(d: Path, rows: int, seed: int) -> None:
    ids = np.arange(rows, dtype=np.uint64)
    seq = sequences_pandas(ids, seed)
    _write_parts(seq, d / "seq")
    fields = expected_fields(ids, seq, seed)
    ok = fields["valid"]
    valid = fields[ok]
    status_class = (fields["status"].str[0] + "xx").where(ok, "reject")
    sink = pd.Series("routed", index=fields.index).where(ok, "rejects")
    sink_counts = (sink + "|" + status_class + "|" + fields["source"]).value_counts()
    (d / "report.txt").write_text(expected_report(valid), encoding="utf-8")
    (d / "expected.json").write_text(
        json.dumps(
            {
                "valid": int(len(valid)),
                "sink_counts": {k: int(v) for k, v in sink_counts.items()},
                "rollup": expected_rollup(valid),
            }
        )
    )


def expected_fields(ids: np.ndarray, seq: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Parsed fields and validity per row: golden values for generated
    rows, the cursor oracle for malformed and edge rows. Field values of
    invalid rows are left as generated; nothing downstream reads them."""
    f = fields_for_ids(ids, seed)[FIELDS + ["source"]].copy()
    f.insert(0, "valid", True)
    special = np.flatnonzero((ids % np.uint64(MALFORMED_MOD) == 0) | np.isin(ids, EDGE_IDS))
    for i in special:
        line = bytes(np.asarray(seq["tokens"].iat[i], dtype=np.uint8)).decode("latin-1")
        got = oracle.parse_line(line)
        f.iat[i, 0] = got is not None
        if got:
            f.iloc[i, 1:len(FIELDS) + 1] = [got[k] for k in FIELDS]
    return f


# --- report text, in the reference CLI's print format ---------------------

_TABLES = [
    ("来访IP统计", "remote_addr"),
    ("用户统计", "remote_user"),
    ("代理IP统计", "http_x_forwarded_for"),
    ("HTTP请求统计", "request"),
    ("User-Agent统计", "http_user_agent"),
    ("HTTP REFERER 统计", "http_referer"),
    ("请求时间统计", "time_local"),
    ("HTTP响应状态统计", "status"),
]


def _human_bytes(n: int) -> str:
    if n < 1024:
        return f"{int(n)} B"
    x, i = float(n), -1
    while x >= 1024:
        x /= 1024
        i += 1
    return f"{x:.2f} {'KMGTPEZY'[i]}B"


def _ranked(values: pd.Series) -> list[tuple[str, int]]:
    """(key, total) pairs ordered by total desc, then key asc."""
    return sorted(((k, int(v)) for k, v in values.items()), key=lambda kv: (-kv[1], kv[0]))


def _table(out: list[str], title: str, ranked, denom: int, pad: int, fmt) -> int:
    """One ranked table: title, top-K rows with their share of ``denom``.
    Returns the total the printed rows cover."""
    out.append(f"\n{title}\n")
    top = ranked[:TOP_K]
    for key, n in top:
        out.append(f"{key[:pad]:<{pad}} {fmt(n)} {n / denom * 100:.2f}%\n")
    return sum(n for _, n in top)


def _footer(out: list[str], buf: str, pad: int, distinct: str, covered: int, denom: int) -> None:
    out.append(f"前{TOP_K}项占比\n{buf:<{pad}} {distinct} {covered / denom * 100:.2f}%\n\n")


def expected_report(valid: pd.DataFrame) -> str:
    """The report ``render_full_report(..., width=80, color=False)`` must print."""
    w = REPORT_WIDTH
    total = len(valid)
    total_bytes = int(valid["body_bytes_sent"].sum())
    out = [
        f"\n共计{total}次访问\n发送总流量{_human_bytes(total_bytes)}\n"
        f"独立IP数{valid['remote_addr'].nunique()}\n"
    ]
    if total < 1:
        return "".join(out)
    count6 = lambda n: f"{n:6d}"  # noqa: E731
    for title, col in _TABLES:
        counts = valid.groupby(col).size()
        covered = _table(out, title, _ranked(counts), total, w, count6)
        _footer(out, f"{covered}/{total}", w, f"{len(counts):6d}", covered, total)
    sent = valid.groupby("request")["body_bytes_sent"].sum()
    covered = _table(
        out, "HTTP流量占比统计", _ranked(sent), total_bytes, w - 6,
        lambda n: f"{_human_bytes(n):>12}",
    )
    buf = f"{_human_bytes(covered)}/{_human_bytes(total_bytes)}"
    _footer(out, buf, w - 6, f"{len(sent):12d}", covered, total_bytes)
    bad = valid[valid["status"] != "200"]
    for status in sorted(bad["status"].unique(), key=int):
        counts = bad[bad["status"] == status].groupby("request").size()
        section = int(counts.sum())
        title = f"状态码{int(status)},共{section}次,占比{100 * section / total:.2f}%"
        covered = _table(out, title, _ranked(counts), section, w, count6)
        _footer(out, f"{covered}/{section}", w, f"{len(counts):6d}", covered, section)
    return "".join(out)


# --- (country, ua_class) rollup of the enriched accepted rows --------------


def _country_of(ip: str, nets) -> str:
    """Longest matching prefix wins; among equal prefixes, the first rule."""
    parts = ip.split(".")
    if len(parts) != 4 or not all(re.fullmatch(r"[0-9]{1,3}", p) and int(p) <= 255 for p in parts):
        return "null"
    v = int.from_bytes(bytes(int(p) for p in parts), "big")
    hits = [(net.prefixlen, country) for net, country in nets
            if int(net.network_address) <= v <= int(net.broadcast_address)]
    return max(hits, key=lambda h: h[0])[1] if hits else "null"


def _ua_class_of(ua: str) -> str:
    for pattern, cls, _ in sorted(DEFAULT_UA_RULES, key=lambda r: r[2]):
        if re.search(pattern, ua):
            return cls
    return "other"


def expected_rollup(valid: pd.DataFrame) -> dict[str, int]:
    nets = [(ipaddress.IPv4Network(r["cidr"], strict=False), r["country"]) for r in default_cidr_table()]
    country = valid["remote_addr"].map(
        {ip: _country_of(ip, nets) for ip in valid["remote_addr"].unique()}
    )
    ua = valid["http_user_agent"].map(
        {u: _ua_class_of(u) for u in valid["http_user_agent"].unique()}
    )
    counts = (country + "|" + ua).value_counts()
    return {k: int(v) for k, v in counts.items()}


# ---------------------------------------------------------------------------
# document fixture (feeds `near_dup`)
# ---------------------------------------------------------------------------

# The document model is measured on the `documents` table of the sf0.1 test
# data (5,000 docs; see README.md): words drawn uniformly from 30 (the most
# and least frequent differ by 4%), base documents of 10-99 words with every
# length equally likely, and 250 docs (5%) that are a base doc with " dup"
# appended, the source drawn with replacement. Those copies are its only
# pairs at t=0.7.
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
MIN_WORDS, MAX_WORDS = 10, 99
COPY_RATE = 0.05
COPY_SUFFIX = " dup"
SHINGLE_K = 5
THRESHOLD = 0.7


def docs_fixture(work: Path, docs: int, seed: int) -> DocsFixture:
    target = work / "fixtures" / f"docs-{docs}-{seed}"
    _build_once(target, lambda d: _build_docs(d, docs, seed))
    pairs = json.loads((target / "pairs.json").read_text())
    return DocsFixture(
        docs_path=str(target / "docs"),
        pairs=frozenset((a, b) for a, b in pairs),
    )


def make_texts(docs: int, seed: int) -> list[str]:
    """``docs`` texts drawn from the measured document model; the seed picks
    the texts and which of them are copied, so each seed has its own pairs."""
    rng = np.random.default_rng([seed, 0x6E64])
    n_copies = round(docs * COPY_RATE)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, docs - n_copies)
    base = [" ".join(VOCAB[rng.integers(0, len(VOCAB), n)]) for n in lengths]
    copies = [base[i] + COPY_SUFFIX for i in rng.integers(0, len(base), n_copies)]
    texts = base + copies
    return [texts[i] for i in rng.permutation(len(texts))]


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct character k-shingles of the whitespace-normalized text."""
    norm = re.sub(r"\s+", " ", text.strip(" ").lower())
    return {norm[i:i + k] for i in range(max(len(norm) - k + 1, 1))}


def exact_pairs(texts: list[str], threshold: float = THRESHOLD) -> set[tuple[int, int]]:
    """All pairs (i < j) whose shingle Jaccard is >= threshold, by an
    all-pairs intersection count (one 0/1 matrix product)."""
    sets = [shingles(t) for t in texts]
    vocab = {s: i for i, s in enumerate(sorted(set().union(*sets)))}
    x = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for row, s in enumerate(sets):
        x[row, [vocab[v] for v in s]] = 1.0
    inter = (x @ x.T).astype(np.int64)  # exact: counts stay far below 2**24
    size = np.array([len(s) for s in sets], dtype=np.int64)
    jaccard = inter / (size[:, None] + size[None, :] - inter)
    a, b = np.nonzero(np.triu(jaccard >= threshold, 1))
    return set(zip(a.tolist(), b.tolist()))


def doc_stats(texts: list[str]) -> dict[str, float]:
    """The document properties the model is fitted to (README.md lists
    them for the test data's `documents` table and for the generator)."""
    words = [t.split() for t in texts]
    base = [len(w) for w in words if w[-1] != COPY_SUFFIX.strip()]
    freq = Counter(x for w in words for x in w if x != COPY_SUFFIX.strip())
    df = np.array(sorted(Counter(s for t in texts for s in shingles(t)).values()))
    return {
        "docs": len(texts),
        "base_words_min": min(base),
        "base_words_max": max(base),
        "word_freq_max_over_min": max(freq.values()) / min(freq.values()),
        "vocabulary": len(freq),
        "copies": len(texts) - len(base),
        "pairs": len(exact_pairs(texts)),
        "shingles": len(df),
        "docs_per_shingle_p50": float(np.percentile(df, 50)),
        "docs_per_shingle_p90": float(np.percentile(df, 90)),
        "docs_per_shingle_max": int(df[-1]),
        "shingles_per_doc": float(np.mean([len(shingles(t)) for t in texts])),
    }


def _build_docs(d: Path, docs: int, seed: int) -> None:
    texts = make_texts(docs, seed)
    _write_parts(pd.DataFrame({"doc_id": np.arange(docs, dtype=np.int64), "text": texts}), d / "docs")
    (d / "pairs.json").write_text(json.dumps(sorted(exact_pairs(texts))))
