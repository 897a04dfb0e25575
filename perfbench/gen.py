"""Seeded input generators: log lines, spool rounds, read schedules and
the curation corpus.

Everything here is a pure function of its seed (``random.Random`` /
``numpy.random.default_rng``), so two runs with one seed feed the
system under test byte-identical inputs. Wall-clock values appear only
where a workload is about live time (the live-mixed shipper stamps its
own lines).
"""

from __future__ import annotations

import bisect
import random
from dataclasses import dataclass

# one line = "<n:07d> <cid> <level> <component>: <words...>"
LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
COMPONENTS = ("http", "db", "auth", "cache", "queue", "sched", "rpc", "gc")
WORDS = tuple(
    "request served user session token timeout retry backend upstream "
    "connection pool worker shard replica commit rollback index query "
    "latency bytes status ok failed accepted rejected queued started "
    "stopped healthy degraded key value cursor offset partition leader "
    "follower snapshot compaction flush segment batch record payload "
    "header route handler client server socket stream frame checksum".split())

DAY_NS = 86_400 * 10**9
HOUR_NS = 3_600 * 10**9
# 2025-03-03T00:00:00Z: the first of the synthetic history's dates
EPOCH0_NS = 1_740_960_000 * 10**9


@dataclass(frozen=True)
class Rec:
    """One generated log entry: what dockerd would hand the plugin."""

    n: int               # per-container arrival index, 0-based
    ts: int              # time_nano
    line: str            # as written (partial chunks lack the newline)
    partial: bool = False
    meta: tuple | None = None  # (last, id, ordinal) for multi-line chunks

    @property
    def stored(self) -> str:
        """The line as ReadLogs serves it (``\\n`` appended on ingest)."""
        return self.line if self.line.endswith("\n") else self.line + "\n"


def log_text(rng: random.Random, head: str, size: int) -> str:
    words = []
    n = len(head)
    while n < size:
        w = WORDS[min(int(rng.paretovariate(1.2)) - 1, len(WORDS) - 1)]
        words.append(w)
        n += len(w) + 1
    return (head + " " + " ".join(words))[:size]


def line_size(rng: random.Random) -> int:
    """40-400 B, skewed short like real service logs."""
    return min(400, 40 + int(rng.expovariate(1 / 90)))


def make_records(rng: random.Random, cid: str, start_n: int, count: int,
                 ts0: int, dt_ns: int, partial_share: float = 0.05) -> list[Rec]:
    """``count`` records for one container, arrival index from
    ``start_n``, timestamps ``ts0 + i*dt_ns``. About ``partial_share``
    of the entries are multi-line: 2-3 chunks sharing a partial id."""
    out: list[Rec] = []
    i = 0
    while len(out) < count:
        n = start_n + len(out)
        ts = ts0 + i * dt_ns
        head = f"{n:07d} {cid} {rng.choice(LEVELS)} {rng.choice(COMPONENTS)}:"
        if rng.random() < partial_share and count - len(out) >= 3:
            k = rng.randint(2, 3)
            pid = f"{cid}-{n}"
            for o in range(k):
                m = start_n + len(out)
                last = o == k - 1
                body = log_text(rng, f"{m:07d} {cid} part{o}", line_size(rng))
                out.append(Rec(m, ts + o, body + ("\n" if last else ""),
                               partial=not last, meta=(last, pid, o + 1)))
        else:
            out.append(Rec(n, ts, log_text(rng, head, line_size(rng)) + "\n"))
        i += 1
    return out


# -- spool encodings -----------------------------------------------------------

def to_entries(recs: list[Rec]):
    """Records as plog ``LogEntry`` objects (the engine's own codec)."""
    from logsqlite_spark.sources import frames as fr

    return [fr.LogEntry(
        source="stdout", time_nano=r.ts, line=r.line.encode("utf-8"),
        partial=r.partial,
        partial_meta=(fr.PartialMeta(last=r.meta[0], id=r.meta[1],
                                     ordinal=r.meta[2]) if r.meta else None))
        for r in recs]


def to_jsonl(recs: list[Rec]) -> list[dict]:
    return [{"source": "stdout", "time_nano": r.ts, "line": r.line,
             "partial": r.partial,
             "partial_meta": ({"last": r.meta[0], "id": r.meta[1],
                               "ordinal": r.meta[2]} if r.meta else None)}
            for r in recs]


def round_bytes(recs_by_cid: dict[str, list[Rec]], fmt: str) -> bytes:
    """Canonical byte image of one spool round (determinism self-test)."""
    import json

    from logsqlite_spark.sources import frames as fr

    out = bytearray()
    for cid in sorted(recs_by_cid):
        out += cid.encode() + b"\0"
        if fmt == "plog":
            out += b"".join(fr.encode_frame(e)
                            for e in to_entries(recs_by_cid[cid]))
        else:
            out += "\n".join(json.dumps(d)
                             for d in to_jsonl(recs_by_cid[cid])).encode()
    return bytes(out)


# -- ingest-backlog --------------------------------------------------------------

class BacklogGen:
    """Rounds of one burst per container; about one round in four is
    jsonl (its position inside each block of four is seeded)."""

    def __init__(self, seed: int, n_containers: int, lines_per_burst: int):
        self.rng = random.Random(seed)
        self.cids = [f"ib{c:03d}" for c in range(n_containers)]
        self.lines = lines_per_burst
        self.written = {c: 0 for c in self.cids}
        self.ts = {c: EPOCH0_NS + k * 10**6 for k, c in enumerate(self.cids)}
        self._jsonl_slot = -1

    def next_round(self, index: int) -> tuple[str, dict[str, list[Rec]]]:
        if index % 4 == 0:
            self._jsonl_slot = self.rng.randrange(4)
        fmt = "jsonl" if index % 4 == self._jsonl_slot else "plog"
        recs = {}
        for c in self.cids:
            n = self.lines + self.rng.randint(-self.lines // 10,
                                              self.lines // 10)
            recs[c] = make_records(self.rng, c, self.written[c], n,
                                   self.ts[c], 2_000_000)
            self.written[c] += len(recs[c])
            self.ts[c] = recs[c][-1].ts + 2_000_000
        return fmt, recs


# -- read-history ----------------------------------------------------------------

class History:
    """``n_containers`` containers over 7 dates; the ``n_hot`` hot ones
    hold about half the rows. Per container the timestamps increase with arrival, so a
    since/until window is a contiguous run of arrival indexes."""

    DATES = 7

    def __init__(self, seed: int, total_rows: int, n_containers: int = 64,
                 n_hot: int = 8):
        rng = random.Random(seed)
        self.cids = [f"rh{c:03d}" for c in range(n_containers)]
        self.hot = self.cids[:n_hot]
        self.cold = self.cids[n_hot:]
        per_hot = total_rows // 2 // n_hot
        per_cold = (total_rows - per_hot * n_hot) // len(self.cold)
        span = self.DATES * DAY_NS
        self.recs: dict[str, list[Rec]] = {}
        self.ts_index: dict[str, list[int]] = {}
        for k, c in enumerate(self.cids):
            n = per_hot if c in self.hot else per_cold
            n += rng.randint(-n // 20, n // 20)
            dt = span // (n + 3)
            recs = make_records(rng, c, 0, n, EPOCH0_NS + k * 1000, dt)
            self.recs[c] = recs
            self.ts_index[c] = [r.ts for r in recs]
        self.n_rows = sum(len(v) for v in self.recs.values())

    def halves(self) -> list[dict[str, list[Rec]]]:
        """Two bursts per container (first and second half of its rows)."""
        first = {c: r[:len(r) // 2] for c, r in self.recs.items()}
        second = {c: r[len(r) // 2:] for c, r in self.recs.items()}
        return [first, second]

    def window(self, cid: str, since: int, until: int) -> list[Rec]:
        """Rows with since <= ts <= until (both bounds inclusive)."""
        ix = self.ts_index[cid]
        lo = bisect.bisect_left(ix, since)
        hi = bisect.bisect_right(ix, until)
        return self.recs[cid][lo:hi]


def zipf_picker(rng: random.Random, items: list, s: float = 1.1):
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def pick():
        return items[bisect.bisect_left(cum, rng.random() * acc)]
    return pick


def read_schedule(seed: int, hist: History, n: int) -> list[dict]:
    """``n`` ReadLogs requests in blocks of 20 with a fixed make-up:
    9 range (5 on hot containers, 4 on cold), 9 tail (likewise) and 2
    dumps of a whole cold container, in seeded order. Within the hot
    and within the cold set, containers are picked by Zipf rank. The
    fixed make-up keeps the hot share equal between seeds, so seeds
    vary the containers and windows, not the amount of work."""
    rng = random.Random(seed)
    pick = {"hot": zipf_picker(rng, hist.hot),
            "cold": zipf_picker(rng, hist.cold)}
    block = ([("range", "hot")] * 5 + [("range", "cold")] * 4
             + [("tail", "hot")] * 5 + [("tail", "cold")] * 4
             + [("dump", "cold")] * 2)
    out = []
    while len(out) < n:
        kinds = list(block)
        rng.shuffle(kinds)
        for kind, temp in kinds:
            if kind == "dump":
                out.append({"kind": kind, "cid": rng.choice(hist.cold)})
                continue
            cid = pick[temp]()
            if kind == "tail":
                out.append({"kind": kind, "cid": cid, "tail": 100})
            else:
                ix = hist.ts_index[cid]
                since = (ix[0] + rng.randrange(ix[-1] - ix[0] - HOUR_NS)) \
                    // 10**9 * 10**9
                out.append({"kind": kind, "cid": cid, "since": since,
                            "until": since + HOUR_NS})
    return out[:n]


def expected_answer(hist: History, req: dict) -> list[Rec]:
    recs = hist.recs[req["cid"]]
    if req["kind"] == "tail":
        return recs[-req["tail"]:]
    if req["kind"] == "range":
        return hist.window(req["cid"], req["since"], req["until"])
    return recs


def rfc3339(ns: int) -> str:
    import datetime as dt

    t = dt.datetime.fromtimestamp(ns // 10**9, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


# -- corpus-curation ---------------------------------------------------------------

def corpus(seed: int, n_docs: int, dim: int = 64, vocab: int = 4000,
           exact_share: float = 0.10, near_share: float = 0.10):
    """A document corpus with planted duplicates.

    Returns ``(doc_ids, texts, embeddings, exact_dups)``: about
    ``exact_share`` of the documents are copies of an earlier document
    differing only in case and whitespace (what ``clean_text``
    normalizes); about ``near_share`` are copies with a few tokens
    replaced. Every original document gets a random unit embedding and
    every copy its source's embedding plus small noise, so embeddings
    follow content: copies are near neighbours, unrelated documents
    are not (like the sf corpora, cosine > 0.4 between unrelated
    documents is rare but not absent). ``exact_dups``
    holds the ids of the planted exact copies, which must not survive.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(vocab)]
    base_vec = rng.standard_normal((n_docs, dim)).astype(np.float32)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.05
    p /= p.sum()

    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    lens = rng.integers(24, 160, size=n_base)
    pool = rng.choice(vocab, size=int(lens.sum()), p=p)
    cut = np.concatenate(([0], np.cumsum(lens)))
    toks = [pool[cut[i]:cut[i + 1]] for i in range(n_base)]
    texts = [" ".join(words[i] for i in t) for t in toks]
    srcs = list(range(n_base))
    # each copy gets a random later position: the original keeps the
    # smaller doc id, so "first arrival wins" must drop the copy
    exact_dups: list[int] = []
    kinds = np.array([0] * n_exact + [1] * n_near)
    rng.shuffle(kinds)
    for kind in kinds:
        src = int(rng.integers(0, n_base))
        t = toks[src]
        if kind == 0:
            parts = texts[src].split(" ")
            text = ""
            for w in parts:
                w = w.upper() if rng.random() < 0.3 else w
                text += w + (" " * int(rng.integers(1, 4)))
            text = "  " + text
            exact_dups.append(len(texts))
        else:
            t = t.copy()
            k = max(1, len(t) // 20)
            t[rng.choice(len(t), size=k, replace=False)] = \
                rng.choice(vocab, size=k, p=p)
            text = " ".join(words[i] for i in t)
        toks.append(t)
        texts.append(text)
        srcs.append(src)
    emb = np.stack([base_vec[s] for s in srcs])
    emb += rng.standard_normal(emb.shape).astype(np.float32) * 0.02
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    doc_ids = list(range(len(texts)))
    return doc_ids, texts, emb.astype(np.float32), exact_dups


def write_corpus(path_docs: str, path_emb: str, seed: int, n_docs: int
                 ) -> list[int]:
    """Write the corpus as two parquet files; returns the planted exact
    duplicate ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts, emb, exact = corpus(seed, n_docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   path_docs)
    flat = pa.array(emb.reshape(-1), pa.float32())
    vecs = pa.FixedSizeListArray.from_arrays(flat, emb.shape[1]).cast(
        pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                             "embedding": vecs}), path_emb)
    return exact
