"""Seeded input generators.

Every generator takes an explicit seed and derives all randomness from
``numpy.random.default_rng(seed)``, so the same seed gives the same
inputs and the program under test sees nothing but those inputs. The
one input that cannot come from the seed is a datagram's creation time
in the live ingest loop; it is passed in as ``now_us`` so that tests can
pin it.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

#: record types and their shares in the generated log
TYPES = ("http_access", "http_error", "ssh", "job", "submission")
TYPE_P = (0.84, 0.10, 0.02, 0.02, 0.02)
METHODS = ("GET", "GET", "GET", "POST", "HEAD", "PUT", "DELETE")
STATUS_ACCESS = (200, 200, 200, 200, 200, 200, 200, 301, 304, 404, 404, 500, 503)
AGENTS = ("Mozilla/5.0", "curl/8.4", "Googlebot/2.1", "python-requests/2.31")
REFERERS = (None, None, "https://example.org/", "https://search.example/q")

#: log-table column order (pond_spark.schema.LOG_SCHEMA)
LOG_COLUMNS = (
    "id", "timestamp", "remote_host", "host", "site", "analytics_id",
    "generator", "forwarded_to", "http_method", "http_uri", "http_referer",
    "user_agent", "message", "http_status", "length", "content_type",
    "traffic_received", "traffic_sent", "duration_us", "type",
)

EPOCH = dt.datetime(1970, 1, 1)


def site_name(i: int) -> str:
    return f"site{i:04d}.example"


def zipf_probs(n_items: int, s: float) -> np.ndarray:
    """Bounded Zipf over ranks 1..n_items; ``s == 0`` is uniform."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    return w / w.sum()


def _uri(site: str | None, rid: int) -> str:
    # the record id rides in the URI so a client-formatted line (one-line
    # or JSONL, neither of which prints the id) can be mapped back to
    # the record it came from when results are checked
    return f"/{(site or 'nosite').split('.')[0]}/page/r{rid}"


def log_records(
    seed: int,
    n: int,
    n_sites: int,
    zipf_s: float,
    start: dt.datetime,
    days: int,
) -> pd.DataFrame:
    """``n`` log records over ``days`` days from ``start``, in LOG_COLUMNS
    order. Ids are the insertion order; timestamps rise with the id up to
    a few seconds of jitter. About 1% of sites and 0.5% of timestamps are
    NULL, the corner cases pond's filters define."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    span_us = days * 86_400_000_000
    base_us = int((start - EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + rng.integers(-5_000_000, 5_000_000, n)
    ts = np.clip(ts, 0, span_us - 1) + base_us
    site_idx = rng.choice(n_sites, size=n, p=zipf_probs(n_sites, zipf_s))
    site_idx[rng.random(n) < 0.01] = n_sites  # the NULL site
    names = [site_name(i) for i in range(n_sites)] + [None]
    sites = np.array(names, dtype=object)[site_idx]
    uri_prefix = [_uri(s, 0)[:-1] for s in names]
    types = np.array(TYPES, dtype=object)[rng.choice(len(TYPES), size=n, p=TYPE_P)]
    is_http = (types == "http_access") | (types == "http_error")
    status = np.array(STATUS_ACCESS)[rng.integers(0, len(STATUS_ACCESS), n)]
    status = np.where(types == "http_error", 500, status)
    hosts = rng.zipf(1.5, n) % 3000
    # per-row strings are picked from small tables: at a million records
    # formatting each one dominates the set-up time
    host_names = np.array([f"10.{h >> 8 & 255}.{h & 255}.{h % 7 + 1}" for h in range(3000)],
                          dtype=object)
    stamps = pd.Series(pd.to_datetime(ts, unit="us"))
    stamps[rng.random(n) < 0.005] = pd.NaT
    return pd.DataFrame(
        {
            "id": ids,
            "timestamp": stamps,
            "remote_host": host_names[hosts],
            "host": np.array([f"web{i}" for i in range(8)], dtype=object)[rng.integers(0, 8, n)],
            "site": sites,
            "analytics_id": None,
            "generator": np.array([f"gen{i}" for i in range(4)], dtype=object)[
                rng.integers(0, 4, n)],
            "forwarded_to": None,
            "http_method": np.where(
                is_http, np.array(METHODS, dtype=object)[rng.integers(0, len(METHODS), n)], None
            ),
            "http_uri": [uri_prefix[s] + str(i) for s, i in zip(site_idx.tolist(), ids.tolist())],
            "http_referer": np.array(REFERERS, dtype=object)[rng.integers(0, len(REFERERS), n)],
            "user_agent": np.array(AGENTS, dtype=object)[rng.integers(0, len(AGENTS), n)],
            "message": np.where(types == "http_error", "upstream timed out", None),
            "http_status": pd.Series(status, dtype="Int32").where(is_http),
            "length": rng.integers(0, 50_000, n),
            "content_type": None,
            "traffic_received": None,
            "traffic_sent": None,
            "duration_us": rng.integers(100, 2_000_000, n),
            "type": types,
        },
    )[list(LOG_COLUMNS)]


# -- pond command lines ---------------------------------------------------

#: the query shapes of the log_query loop, cycled in this order so every
#: run has the same shape mix whatever its length
SHAPES = ("window", "last", "group_site", "accumulate", "jsonl")


def _minute(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M")


def _vdc(i: int) -> float:
    """The i-th term of the base-2 van der Corput sequence: any prefix of
    it spreads evenly over [0, 1)."""
    out, denom = 0.0, 1.0
    while i:
        denom *= 2
        out += (i & 1) / denom
        i >>= 1
    return out


def query_lines(
    seed: int, per_shape: int, n_sites: int, zipf_s: float,
    start: dt.datetime, days: int,
) -> list[tuple[str, str]]:
    """``per_shape`` command lines of each shape, as ``(shape, line)``,
    interleaved shape by shape. Sites follow the records' Zipf, so hot
    sites are asked for more often. Round ``i`` draws its sites and time
    windows from stratum ``i`` of a van der Corput order, so however many
    rounds a run gets through, they cover the site mass and the days
    evenly instead of landing wherever the seed put them."""
    rng = np.random.default_rng(seed)
    cdf = np.cumsum(zipf_probs(n_sites, zipf_s))
    strata = 1 << max(per_shape - 1, 0).bit_length()
    out: list[tuple[str, str]] = []

    def u(i: int) -> float:
        return _vdc(i) + rng.random() / strata

    def site(i: int) -> str:
        return site_name(min(int(np.searchsorted(cdf, u(i), side="right")), n_sites - 1))

    def span(i: int, hours: int) -> tuple[str, str]:
        lo = start + dt.timedelta(minutes=int(u(i) * (days * 1440 - hours * 60)))
        return _minute(lo), _minute(lo + dt.timedelta(hours=hours))

    for i in range(per_shape):
        since, until = span(i, int(rng.integers(12, 72)))
        out.append((
            "window",
            f"site={site(i)} since={since} until={until} "
            f"window={int(rng.integers(20, 200))}@{int(rng.integers(0, 50))}",
        ))
        out.append(("last", f"site={site(i)} --last"))
        since, until = span(i, int(rng.integers(1, 6)))
        out.append((
            "group_site",
            f"group_site={int(rng.integers(2, 6))}@{int(rng.integers(0, 4))} "
            f"since={since} until={until}",
        ))
        lo = int(rng.choice([400, 404, 500]))
        out.append((
            "accumulate",
            f"status={lo}:{lo + 100 if lo != 404 else 405} type=http_access "
            f"--accumulate={rng.choice(['site', 'remote_host'])},top,{int(rng.integers(5, 20))}",
        ))
        since, until = span(i, int(rng.integers(6, 24)))
        out.append(("jsonl", f"site={site(i)} since={since} until={until} --jsonl"))
    return out


# -- datagrams --------------------------------------------------------------

MAX_DATAGRAM = 4096
#: shares of a datagram batch that are not JSON, that reach pond's
#: 4096-byte truncation guard, and that are http_error records (the ones
#: the per-site rate limiter charges)
MALFORMED = 0.02
OVERSIZE = 0.01
HTTP_ERROR = 0.15
#: pond's token bucket holds this many seconds of its refill rate
BURST_S = 10.0


@dataclass
class DatagramBatch:
    """One ingest batch: the payloads and what the program must make of
    them."""

    payloads: list[str]
    created_us: dict[int, int] = field(default_factory=dict)  # id -> creation time
    n_malformed: int = 0
    valid_ids: list[int] = field(default_factory=list)  # well-formed records
    follow_ids: list[int] = field(default_factory=list)  # well-formed http_access
    charged: list[tuple[str, int, int]] = field(default_factory=list)  # (site, ts_us, id)
    sizes: dict[int, int] = field(default_factory=dict)  # well-formed id -> payload bytes


def _iso_us(us: int) -> str:
    return (EPOCH + dt.timedelta(microseconds=us)).strftime("%Y-%m-%dT%H:%M:%S.%f")


def datagram_batch(
    rng: np.random.Generator,
    size: int,
    id_base: int,
    now_us: int,
    n_sites: int,
    zipf_s: float,
) -> DatagramBatch:
    """``size`` JSON datagrams stamped ``now_us`` (plus one microsecond per
    record, so a batch's creation order is its time order), with the
    MALFORMED, OVERSIZE and HTTP_ERROR shares planted."""
    out = DatagramBatch(payloads=[])
    p = zipf_probs(n_sites, zipf_s)
    kinds = rng.random(size)
    sites = rng.choice(n_sites, size=size, p=p)
    for j in range(size):
        rid = id_base + j
        ts = now_us + j
        k = kinds[j]
        site = site_name(int(sites[j]))
        if k < MALFORMED:
            out.payloads.append('{"id": %d, "timestamp": "%s", "site' % (rid, _iso_us(ts)))
            out.n_malformed += 1
            continue
        typ = "http_error" if k > 1.0 - HTTP_ERROR else "http_access"
        rec = {
            "id": rid,
            "timestamp": _iso_us(ts),
            "remote_host": f"10.9.{rid >> 8 & 255}.{rid & 255}",
            "site": site,
            "http_method": "GET",
            "http_uri": _uri(site, rid),
            "http_status": 500 if typ == "http_error" else 200,
            "length": int(rid % 9000),
            "duration_us": int(rid % 700_000),
            "type": typ,
        }
        if typ == "http_error":
            rec["message"] = "upstream timed out"
        if MALFORMED <= k < MALFORMED + OVERSIZE:
            rec["message"] = "x" * MAX_DATAGRAM
        payload = json.dumps(rec, separators=(",", ":"))
        out.payloads.append(payload)
        if len(payload.encode()) >= MAX_DATAGRAM:
            out.n_malformed += 1
            continue
        out.valid_ids.append(rid)
        out.created_us[rid] = ts
        out.sizes[rid] = len(payload.encode())
        if typ == "http_access":
            out.follow_ids.append(rid)
        else:
            out.charged.append((site, ts, rid))
    return out


def token_bucket_discards(charged: list[tuple[str, int, int]], rate: float) -> set[int]:
    """Ids pond's per-site token bucket (capacity BURST_S·rate, refill
    ``rate``/s, one token per message) discards, replayed in (timestamp,
    id) order per site: the reference model the ingest check compares
    against."""
    burst = BURST_S * rate
    by_site: dict[str, list[tuple[int, int]]] = {}
    for site, ts, rid in charged:
        by_site.setdefault(site, []).append((ts, rid))
    dropped: set[int] = set()
    for recs in by_site.values():
        tokens, prev = burst, None
        for ts, rid in sorted(recs):
            if prev is not None and ts > prev:
                tokens = min(burst, tokens + rate * (ts - prev) / 1e6)
            prev = ts
            if tokens >= 1.0:
                tokens -= 1.0
            else:
                dropped.add(rid)
    return dropped


# -- text corpus ------------------------------------------------------------

_SYL = ("ka", "lo", "mi", "ren", "tas", "vo", "dri", "pel", "sun", "qua",
        "bre", "nor", "tin", "fa", "gol", "hes", "jun", "wex", "zor", "ly")
STOPWORDS = ("the", "and", "of", "to", "in", "is", "on", "a")


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYL[i] for i in rng.integers(0, len(_SYL), k)))
    return sorted(words)


def _sentence(rng, vocab, n_words: int) -> str:
    w = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
    for pos in rng.integers(0, n_words, max(1, n_words // 5)):
        w[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return " ".join(w)


def _doc(rng, vocab, boilerplate: list[str]) -> str:
    lines = [_sentence(rng, vocab, int(rng.integers(9, 16))) for _ in range(int(rng.integers(3, 6)))]
    if rng.random() < 0.3:
        lines.insert(int(rng.integers(0, len(lines) + 1)), boilerplate[int(rng.integers(0, len(boilerplate)))])
    return "\n".join(lines)


def _near(rng, vocab, text: str) -> str:
    """``text`` with one word of one line replaced."""
    lines = text.split("\n")
    li = int(rng.integers(0, len(lines)))
    words = lines[li].split(" ")
    words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
    lines[li] = " ".join(words)
    return "\n".join(lines)


@dataclass
class Corpus:
    """Two daily corpora plus the eval set, with the planted structure
    each curation stage must find."""

    day1: pd.DataFrame  # doc_id, text, embedding
    day2: pd.DataFrame
    eval_set: pd.DataFrame  # doc_id, text
    planted_repeats: list[int]  # day-2 ids that copy day-1 docs
    dim: int


#: documents in the eval set decontamination checks against
N_EVAL = 20


def corpus(seed: int, n_day: int, dup_share: float, dim: int) -> Corpus:
    """Day 1 holds exact duplicates, near duplicates, shared boilerplate
    lines, PII, eval-set overlap and a few low-quality documents. Day 2
    holds fresh documents plus ``dup_share`` planted exact and near copies
    of day-1 documents, whose embeddings are day-1 vectors plus small
    noise, so the digest, MinHash and embedding gates all have work."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 4000)
    boiler = [_sentence(rng, vocab, 10) for _ in range(6)]
    evals = [_sentence(rng, vocab, 40) for _ in range(N_EVAL)]

    def fresh(n: int) -> list[str]:
        return [_doc(rng, vocab, boiler) for _ in range(n)]

    def emb(n: int) -> np.ndarray:
        return rng.normal(0.0, 1.0, (n, dim))

    d1 = fresh(n_day)
    n_special = max(1, int(n_day * dup_share / 2))
    for i in range(n_special):  # within-day exact and near duplicates
        d1[n_day - 1 - i] = d1[i] if i % 2 == 0 else _near(rng, vocab, d1[i])
    for i in range(n_special, n_special + max(1, n_day // 50)):  # PII
        d1[i] += f"\ncontact jane{i}@mail.example or call 555-{i % 1000:03d}-{i % 10000:04d}"
    for i in range(2 * n_special, 2 * n_special + max(1, n_day // 100)):  # eval overlap
        e = evals[i % N_EVAL].split(" ")
        d1[i] += "\n" + " ".join(e[5:20])
    for i in range(3 * n_special, 3 * n_special + max(1, n_day // 100)):  # low quality
        d1[i] = " ".join(str(v) for v in rng.integers(0, 10**6, 12))
    e1 = emb(n_day)

    n_rep = int(n_day * dup_share)
    src = rng.choice(n_day, size=n_rep, replace=False)
    d2 = fresh(n_day - n_rep) + [
        d1[s] if j % 2 == 0 else _near(rng, vocab, d1[s]) for j, s in enumerate(src)
    ]
    e2 = np.vstack([emb(n_day - n_rep), e1[src] + rng.normal(0.0, 0.01, (n_rep, dim))])
    ids2 = np.arange(n_day, 2 * n_day, dtype=np.int64)
    return Corpus(
        day1=pd.DataFrame({"doc_id": np.arange(n_day, dtype=np.int64), "text": d1,
                           "embedding": e1.tolist()}),
        day2=pd.DataFrame({"doc_id": ids2, "text": d2, "embedding": e2.tolist()}),
        eval_set=pd.DataFrame({"doc_id": np.arange(N_EVAL, dtype=np.int64), "text": evals}),
        planted_repeats=[int(i) for i in ids2[n_day - n_rep:]],
        dim=dim,
    )


# -- search corpus ----------------------------------------------------------


@dataclass
class SearchSet:
    docs: pd.DataFrame  # doc_id, text
    vectors: np.ndarray  # row i belongs to doc_id i
    centers: np.ndarray
    topic_words: list[list[str]]


def search_set(
    seed: int, n_docs: int, n_clusters: int, dim: int, spread: float
) -> SearchSet:
    """Documents whose embeddings sit in ``n_clusters`` planted clusters
    (unit centers plus Gaussian noise of scale ``spread``) and whose text
    draws extra topic words from its cluster, so the lexical and the
    vector leg of a hybrid query agree in part."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 3000)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    topics = [[vocab[i] for i in rng.integers(0, len(vocab), 12)] for _ in range(n_clusters)]
    cl = rng.integers(0, n_clusters, n_docs)
    vecs = centers[cl] + rng.normal(0.0, spread / np.sqrt(dim), (n_docs, dim))
    texts = []
    for c in cl:
        words = [vocab[i] for i in rng.integers(0, len(vocab), 30)]
        words += [topics[c][i] for i in rng.integers(0, 12, 6)]
        texts.append(" ".join(words[i] for i in rng.permutation(len(words))))
    return SearchSet(
        docs=pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}),
        vectors=vecs,
        centers=centers,
        topic_words=topics,
    )


def search_requests(seed: int, ss: SearchSet, n: int, spread: float) -> list[dict]:
    """``n`` requests: a query vector near a planted center and two or
    three of that cluster's topic words."""
    rng = np.random.default_rng(seed)
    dim = ss.vectors.shape[1]
    out = []
    for _ in range(n):
        c = int(rng.integers(0, len(ss.centers)))
        vec = ss.centers[c] + rng.normal(0.0, spread / np.sqrt(dim), dim)
        k = int(rng.integers(2, 4))
        terms = [ss.topic_words[c][i] for i in rng.choice(12, size=k, replace=False)]
        out.append({"vec": [float(v) for v in vec], "terms": terms})
    return out


def to_bytes(obj) -> bytes:
    """Canonical bytes of a generated input, for determinism checks."""
    if isinstance(obj, pd.DataFrame):
        return obj.to_json(orient="split", date_unit="us", default_handler=str).encode()
    if isinstance(obj, np.ndarray):
        return obj.tobytes()
    if isinstance(obj, Corpus):
        return b"|".join([to_bytes(obj.day1), to_bytes(obj.day2),
                          to_bytes(obj.eval_set), json.dumps(obj.planted_repeats).encode()])
    if isinstance(obj, SearchSet):
        return b"|".join([to_bytes(obj.docs), obj.vectors.tobytes(), obj.centers.tobytes()])
    if isinstance(obj, DatagramBatch):
        return "\n".join(obj.payloads).encode()
    return json.dumps(obj, sort_keys=True, default=str).encode()
