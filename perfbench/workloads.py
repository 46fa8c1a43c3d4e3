"""The benchmark's workloads.

Every workload makes its inputs from the run's seed, sets up once
(generate the corpus, build the index, warm the serving view), runs one
client in a closed loop for the run's seconds (the next call is
sent when the previous answer is back, like an agent waiting for its
retrieval result) and then checks every timed answer against the FTS5
oracle, outside every timing. A loop ends on a whole cycle of query
shapes (a whole round on ``ingest``) once its seconds are up, so every
run times the same mix. The program is driven only through its public
entry points.
"""

from __future__ import annotations

import os
import re
import time
import traceback
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from yetisearch_spark import wand
from yetisearch_spark.analyzer import analyze, analyze_batch
from yetisearch_spark.build import build_index
from yetisearch_spark.corpus import generate_transcripts
from yetisearch_spark.engine import Engine, SearchQuery
from yetisearch_spark.query import SearchIndex, configure_serving, parse_query
from yetisearch_spark.streaming import (append_segment, delete_docs,
                                        list_segments, merge_segments)

from .check import (Oracle, Query, compare_engine, compare_ranked,
                    compare_vocab)

#: corpus and stream sizes at --scale 1, chosen so that a run, set-up
#: included, takes about half a minute on a 4-core box
SIZES = {
    "mixed_turns": 20_000,
    "mixed_stream": 800,
    "skew_turns": 56_000,
    "skew_stream": 400,
    "ingest_base": 10_000,
    "ingest_segment": 1_000,
    "ingest_deletes": 50,
}
#: serve_skew builds with small blocks so that its head term (in every
#: turn) spans more blocks than the default pruning gate of every shape at
#: this corpus size: 56k turns / 4 = 14k blocks, against 10k blocks, and
#: 12.8k for a filtered query (its first pruned round asks for top-64)
SKEW_BLOCK_SIZE = 4
INGEST_SEARCHES = 2
ANALYZER_SAMPLE = 10_000
HEAD_TERM = "zzhead"
ROLE_FILTER = {"field": "role", "operator": "="}

#: query shapes cycle in a fixed order, so every seed gets the same mix;
#: the seed picks the terms. "repeat" re-sends an earlier query of the
#: stream (Zipf-drawn terms repeat on their own as well).
MIXED_SCHEDULE = ("single", "and", "phrase", "or", "near", "repeat",
                  "prefix", "filtered", "fuzzy", "repeat")
INGEST_SCHEDULE = ("single", "and", "phrase", "or", "near", "prefix")
SKEW_SCHEDULE = ("single", "and", "or", "phrase", "near", "filtered")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    scale: float
    tracer: object
    #: context manager around the timed loop (``trace.MemorySampler``)
    memory: object
    #: traced runs: reads Spark storage status after each request
    stats: object = None

    def n(self, key: str) -> int:
        return max(200, int(SIZES[key] * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    setup_s: float = 0.0
    op_s: list = field(default_factory=list)
    loop_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checked: int = 0
    index_bytes: int = 0
    text_bytes: int = 0
    failures: list = field(default_factory=list)
    report: dict = field(default_factory=dict)
    #: postings columns that hold block data (read by traced runs)
    payload_cols: set = field(default_factory=set)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------

def make_corpus(turns: int, seed: int, conv_prefix: str | None = None
                ) -> pd.DataFrame:
    pdf = generate_transcripts(turns, seed=seed)
    if conv_prefix:
        pdf["conv_id"] = conv_prefix + pdf["conv_id"].str.slice(5)
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str) -> int:
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-00000.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f,
                   row_group_size=25_000)
    return os.path.getsize(f)


def doc_ids(pdf: pd.DataFrame, base: int = 0) -> np.ndarray:
    """doc_id of each row: dense rank in (conv_id, turn_idx) order."""
    order = pdf.reset_index(drop=True).sort_values(
        ["conv_id", "turn_idx"]).index.to_numpy()
    ids = np.empty(len(pdf), dtype=np.int64)
    ids[order] = np.arange(len(pdf), dtype=np.int64) + base
    return ids


def parquet_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if f.endswith(".parquet"))
    return total


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].str.encode("utf-8").str.len().sum())


def term_stats(index_dir: str) -> dict[str, tuple[int, int]]:
    t = pads.dataset(os.path.join(index_dir, "term_stats"),
                     format="parquet").to_table(columns=["term", "df", "cf"])
    return {a: (int(b), int(c)) for a, b, c in
            zip(*(t.column(n).to_pylist() for n in ("term", "df", "cf")))}


def term_blocks(index_dir: str) -> tuple[dict[str, int], set[str]]:
    """(term → posting block rows, binary payload columns) of an index."""
    d = pads.dataset(os.path.join(index_dir, "postings"), format="parquet",
                     partitioning="hive")
    payload = {f.name for f in d.schema
               if pa.types.is_binary(f.type) or pa.types.is_large_binary(f.type)}
    counts = d.to_table(columns=["term"]).column("term").value_counts()
    return ({v["values"].as_py(): v["counts"].as_py() for v in counts},
            payload)


_WORD = re.compile(r"[a-z]{3,}")


class Vocab:
    """Words of the generated corpus that analyze to exactly one term."""

    def __init__(self, texts) -> None:
        self.stem: dict[str, str | None] = {}
        for t in texts[:5000]:
            for w in t.split():
                if w not in self.stem and _WORD.fullmatch(w):
                    a = analyze(w)
                    self.stem[w] = a[0] if len(a) == 1 else None

    def words(self, text: str) -> list[str]:
        return [w for w in text.split() if self.stem.get(w)]


def _distinct_stems(vocab: Vocab, words) -> bool:
    stems = [vocab.stem[w] for w in words]
    return len(set(stems)) == len(stems)


def _make_query(kind: str, texts, vocab: Vocab, rng) -> Query | None:
    words = vocab.words(texts[rng.integers(len(texts))])
    if len(words) < 2:
        return None
    stem = vocab.stem
    if kind == "single":
        w = words[rng.integers(len(words))]
        return Query(w, "single", (stem[w],))
    if kind in ("and", "filtered"):
        a, b = rng.choice(len(words), 2, replace=False)
        a, b = words[a], words[b]
        if not _distinct_stems(vocab, (a, b)):
            return None
        role = str(rng.choice(["user", "assistant"])) \
            if kind == "filtered" else None
        return Query(f"{a} AND {b}", "and", (stem[a], stem[b]), role=role)
    if kind == "or":
        ws = [words[rng.integers(len(words))]]
        for _ in range(2):
            other = vocab.words(texts[rng.integers(len(texts))])
            if not other:
                return None
            ws.append(other[rng.integers(len(other))])
        if not _distinct_stems(vocab, ws):
            return None
        return Query(" OR ".join(ws), "or", tuple(stem[w] for w in ws))
    if kind in ("phrase", "near"):
        raw = texts[rng.integers(len(texts))].split()
        gap = 1 if kind == "phrase" else int(rng.integers(1, 6))
        pairs = [(raw[i], raw[i + gap]) for i in range(len(raw) - gap)
                 if stem.get(raw[i]) and stem.get(raw[i + gap])]
        if not pairs:
            return None
        a, b = pairs[rng.integers(len(pairs))]
        if not _distinct_stems(vocab, (a, b)):
            return None
        if kind == "phrase":
            return Query(f'"{a} {b}"', "phrase", (stem[a], stem[b]))
        return Query(f'NEAR("{a}" "{b}", 10)', "near", (stem[a], stem[b]))
    long = [w for w in words if len(w) >= 6]
    if not long:
        return None
    w = long[rng.integers(len(long))]
    if kind == "prefix":
        return Query(f"{w[:4]}*", "prefix", (w[:4],))
    i = int(rng.integers(1, len(w) - 1))      # fuzzy: drop one letter
    typo = w[:i] + w[i + 1:]
    return Query(typo, "fuzzy", tuple(analyze(typo)))


def query_stream(pdf: pd.DataFrame, schedule: tuple, n: int, rng
                 ) -> list[Query]:
    """Seeded stream of ``n`` queries whose shapes follow ``schedule``."""
    texts = pdf["text"].tolist()
    vocab = Vocab(texts)
    out: list[Query] = []
    while len(out) < n:
        kind = schedule[len(out) % len(schedule)]
        if kind == "repeat":
            out.append(out[rng.integers(len(out))])
            continue
        q = None
        while q is None:
            q = _make_query(kind, texts, vocab, rng)
        out.append(q)
    return out


_RARE_LETTERS = "bcdfghjklmnpqrtvwxz"


def rare_term(i: int) -> str:
    s = ""
    for _ in range(3):
        s += _RARE_LETTERS[i % len(_RARE_LETTERS)]
        i //= len(_RARE_LETTERS)
    return "zq" + s


def skew_corpus(turns: int, seed: int) -> tuple[pd.DataFrame, int]:
    """Mixed corpus plus a head term in every turn, a 32x tf spike in
    ~1 turn in 5,000, and one rare term per run of 50 conversations."""
    pdf = make_corpus(turns, seed)
    conv = pd.factorize(pdf["conv_id"], sort=True)[0]
    rng = np.random.default_rng(seed + 7)
    spike = rng.random(len(pdf)) < 1 / 5000
    rare = conv // 50
    n_rare = int(rare.max()) + 1
    names = [rare_term(i) for i in range(n_rare)]
    if any(analyze(t) != [t] for t in names + [HEAD_TERM]):
        raise RuntimeError("synthetic terms do not survive the analyzer")
    tail = f" {HEAD_TERM}" * 31
    pdf["text"] = [f"{t} {HEAD_TERM}{tail if s else ''} {names[r]}"
                   for t, s, r in zip(pdf["text"], spike, rare)]
    return pdf, n_rare


def skew_stream(n_rare: int, n: int, rng) -> list[Query]:
    order = rng.permutation(n_rare)
    out = []
    for i in range(n):
        r = rare_term(int(order[i % n_rare]))
        kind = SKEW_SCHEDULE[i % len(SKEW_SCHEDULE)]
        h = HEAD_TERM
        if kind == "single":
            out.append(Query(h, "single", (h,), k=10 + int(rng.integers(20))))
        elif kind in ("and", "filtered"):
            out.append(Query(f"{h} AND {r}", "and", (h, r),
                             role="user" if kind == "filtered" else None))
        elif kind == "or":
            out.append(Query(f"{h} OR {r}", "or", (h, r)))
        elif kind == "phrase":
            out.append(Query(f'"{h} {r}"', "phrase", (h, r)))
        else:
            out.append(Query(f'NEAR("{r}" "{h}", 10)', "near", (r, h)))
    return out


def stream_properties(stream: list[Query], blocks: dict[str, int],
                      n_used: int, sent_before: int = 0) -> dict:
    """Input properties of the ``n_used`` timed queries that follow the
    ``sent_before`` warm-up queries of ``stream``."""
    used = stream[sent_before:sent_before + n_used]
    terms = set()
    for q in used:
        if q.kind == "prefix":
            terms |= {t for t in blocks if t.startswith(q.tokens[0])}
        else:
            terms |= set(q.tokens)
    seen = set(stream[:sent_before])
    repeats = 0
    for q in used:
        repeats += q in seen
        seen.add(q)
    largest = max((blocks.get(t, 0) for t in terms), default=0)
    return {"queries": len(used),
            "distinct_query_share": len(set(used)) / max(1, len(used)),
            "repeat_query_share": repeats / max(1, len(used)),
            "distinct_terms": len(terms),
            "decoded_cache_capacity": SearchIndex.DECODED_CACHE_MAX,
            "largest_term_blocks": largest,
            "pruning_gate_blocks": max(wand.GATE_MIN_BLOCKS,
                                       wand.GATE_BLOCKS_PER_K * 10)}


def query_blocks(q: Query, blocks: dict[str, int], tokens=None) -> int:
    if q.kind == "prefix":
        return sum(n for t, n in blocks.items() if t.startswith(q.tokens[0]))
    return sum(blocks.get(t, 0) for t in set(tokens or q.tokens))


# ---------------------------------------------------------------------------
# Shared steps
# ---------------------------------------------------------------------------

def _build(ctx: Ctx, source: str, out: str, **kw) -> dict:
    with ctx.tracer.span("build.build_index", index_dir=out) as a:
        m = build_index(ctx.spark, ctx.spark.read.parquet(source), out,
                        input_path=source, resume=False, **kw)
        a["manifest"] = m
    return m


def _check_build(out: Outcome, manifest: dict, index_dir: str, turns: int,
                 vocab: dict[str, tuple[int, int]]) -> None:
    """Set-up build: manifest docs = input turns, manifest postings = Σ df,
    and the term stats {term: (df, cf)} = the oracle's vocabulary."""
    ts = term_stats(index_dir)
    df = sum(v[0] for v in ts.values())
    post = sum(b["postings"] for b in manifest["stages"]["postings"]
               ["counters"]["per_bucket"].values())
    docs = manifest["stages"]["docs"]["counters"]["docs"]
    err = (f"docs {docs} != turns {turns}" if docs != turns else
           f"postings {post} != sum df {df}" if post != df else
           compare_vocab(ts, vocab))
    out.report["setup_build_checked"] = err is None
    if err:
        out.fail(f"set-up build: {err}")


def _analyzer_rate(ctx: Ctx, texts: list[str]) -> None:
    if not ctx.tracer.enabled:
        return
    sample = texts[:ANALYZER_SAMPLE]
    with ctx.tracer.span("analyzer.analyze_batch") as a:
        t = time.perf_counter()
        analyze_batch(sample)
        a["turns_per_s"] = len(sample) / (time.perf_counter() - t)


def _oracle(pdf: pd.DataFrame, ids: np.ndarray) -> Oracle:
    o = Oracle()
    o.add(ids.tolist(), analyze_batch(pdf["text"].tolist()),
          pdf["role"].tolist())
    return o


def _guard(out: Outcome, what: str, fn):
    """Runs one timed call; an exception counts as a failed operation."""
    try:
        return fn(), True
    except Exception:   # the loop keeps running; the failure is counted
        traceback.print_exc()
        out.fail(f"{what}: exception")
        return None, False


def _check_query(out: Outcome, oracle: Oracle, q: Query, got, engine: bool
                 ) -> None:
    if got is None or not q.checkable:
        return
    want, total = oracle.answer(q)
    err = (compare_engine(got, want, total, q.k) if engine
           else compare_ranked(got, want, q.k))
    out.checked += 1
    if err:
        out.fail(f"{q.text!r} role={q.role}: {err}")


def _search_query(q: Query) -> SearchQuery:
    return SearchQuery(query=q.text, limit=q.k, fuzzy=q.kind == "fuzzy",
                       filters=[{**ROLE_FILTER, "value": q.role}]
                       if q.role else [])


def _engine_search(ctx: Ctx, engine: Engine, name: str, q: Query,
                   blocks: dict | None, **attrs):
    tr = ctx.tracer
    tokens = q.tokens
    if tr.enabled:
        with tr.span("query.parse_query"):
            parse_query(q.text)
        if q.kind == "fuzzy":
            with tr.span("correction.find_best_correction"):
                c = engine.corrector(name)
                tokens = tuple(c.find_best_correction(t) for t in q.tokens)
    with tr.span("engine.search", **attrs) as a:
        if blocks is not None:
            a["blocks"] = query_blocks(q, blocks, tokens)
        return engine.search(name, _search_query(q))


def _deadline(ctx: Ctx) -> float:
    return time.perf_counter() + ctx.seconds


def _done(i: int, cycle: int, end: float) -> bool:
    """After timed query ``i``: the seconds are up and a cycle of
    ``cycle`` query shapes is complete."""
    return (i + 1) % cycle == 0 and time.perf_counter() >= end


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

def _serving_setup(ctx: Ctx, out: Outcome, turns: int, name: str):
    """Generate + build + warm; returns (engine, corpus, index dir)."""
    src, idx_dir = ctx.path("corpus"), ctx.path("index")
    t = time.perf_counter()
    pdf = make_corpus(turns, ctx.seed)
    in_bytes = write_parquet(pdf, src)
    manifest = _build(ctx, src, idx_dir)
    configure_serving(ctx.spark)
    engine = Engine(ctx.spark, {name: idx_dir})
    with ctx.tracer.span("engine.warm"):
        engine.warm(name)
    out.setup_s = time.perf_counter() - t
    out.report.update({"turns": len(pdf), "corpus_bytes": in_bytes})
    return engine, pdf, idx_dir, manifest


def _trace_after(ctx: Ctx, attrs: dict) -> None:
    if ctx.stats is not None:
        attrs["persisted"] = ctx.stats.persisted()


def run_serve_mixed(ctx: Ctx) -> Outcome:
    """Engine.search with its default config over a warmed index."""
    out = Outcome()
    engine, pdf, idx_dir, manifest = _serving_setup(
        ctx, out, ctx.n("mixed_turns"), "main")
    t = time.perf_counter()
    warm = len(MIXED_SCHEDULE)
    stream = query_stream(pdf, MIXED_SCHEDULE, warm + ctx.n("mixed_stream"),
                          np.random.default_rng(ctx.seed + 1))
    for q in stream[:warm]:
        engine.search("main", _search_query(q))
    out.setup_s += time.perf_counter() - t
    blocks, out.payload_cols = term_blocks(idx_dir)
    answers = []
    with ctx.memory:
        end = _deadline(ctx)
        t_loop = time.perf_counter()
        for i, q in enumerate(stream[warm:]):
            with ctx.tracer.span("bench.request", request=i,
                                 kind=q.kind) as ra:
                t = time.perf_counter()
                res, _ = _guard(out, q.text, lambda: _engine_search(
                    ctx, engine, "main", q, blocks))
                out.op_s.append(time.perf_counter() - t)
            out.attempted += 1
            answers.append((q, res))
            _trace_after(ctx, ra)
            if _done(i, len(MIXED_SCHEDULE), end):
                break
        out.loop_s = time.perf_counter() - t_loop

    _analyzer_rate(ctx, pdf["text"].tolist())
    oracle = _oracle(pdf, doc_ids(pdf))
    _check_build(out, manifest, idx_dir, len(pdf), oracle.vocab())
    for q, res in answers:
        _check_query(out, oracle, q, res, engine=True)
    oracle.close()
    out.index_bytes = parquet_bytes(idx_dir)
    out.text_bytes = text_bytes(pdf)
    out.report.update(stream_properties(stream, blocks, len(answers), warm))
    out.report.update({
        "text_bytes": out.text_bytes,
        "query_p95_s": float(np.percentile(out.op_s, 95)),
    })
    return out


def run_serve_skew(ctx: Ctx) -> Outcome:
    """SearchIndex.search + collect() on a default handle over a skewed
    corpus whose head term engages block-max pruning."""
    out = Outcome()
    n = ctx.n("skew_turns")
    src, idx_dir = ctx.path("corpus"), ctx.path("index")
    t = time.perf_counter()
    pdf, n_rare = skew_corpus(n, ctx.seed)
    in_bytes = write_parquet(pdf, src)
    manifest = _build(ctx, src, idx_dir, block_size=SKEW_BLOCK_SIZE)
    configure_serving(ctx.spark)
    idx = SearchIndex(ctx.spark, idx_dir)
    with ctx.tracer.span("engine.warm"):
        idx.warm()
    warm = len(SKEW_SCHEDULE)
    stream = skew_stream(n_rare, warm + ctx.n("skew_stream"),
                         np.random.default_rng(ctx.seed + 2))
    for q in stream[:warm]:
        idx.search(q.text, k=q.k, filters={"role": q.role} if q.role
                   else None).collect()
    out.setup_s = time.perf_counter() - t
    blocks, out.payload_cols = term_blocks(idx_dir)
    tr = ctx.tracer
    answers = []
    with ctx.memory:
        end = _deadline(ctx)
        t_loop = time.perf_counter()
        for i, q in enumerate(stream[warm:]):
            filters = {"role": q.role} if q.role else None

            def search(q=q, filters=filters):
                with tr.span("query.search", blocks=query_blocks(q, blocks)):
                    frame = idx.search(q.text, k=q.k, filters=filters)
                with tr.span("query.collect"):
                    return [(int(r["doc_id"]), float(r["score"]))
                            for r in frame.collect()]

            kind = "filtered" if q.role else q.kind
            with tr.span("bench.request", request=i, kind=kind) as ra:
                t = time.perf_counter()
                rows, _ = _guard(out, q.text, search)
                out.op_s.append(time.perf_counter() - t)
            out.attempted += 1
            answers.append((q, rows))
            _trace_after(ctx, ra)
            if _done(i, len(SKEW_SCHEDULE), end):
                break
        out.loop_s = time.perf_counter() - t_loop

    _analyzer_rate(ctx, pdf["text"].tolist())
    oracle = _oracle(pdf, doc_ids(pdf))
    _check_build(out, manifest, idx_dir, n, oracle.vocab())
    for q, rows in answers:
        _check_query(out, oracle, q, rows, engine=False)
    oracle.close()
    out.index_bytes = parquet_bytes(idx_dir)
    out.text_bytes = text_bytes(pdf)
    out.report.update(stream_properties(stream, blocks, len(answers), warm))
    out.report.update({
        "turns": n, "corpus_bytes": in_bytes, "text_bytes": out.text_bytes,
        "rare_terms": n_rare, "block_size": SKEW_BLOCK_SIZE,
        "query_p95_s": float(np.percentile(out.op_s, 95)),
    })
    return out


def run_ingest(ctx: Ctx) -> Outcome:
    """Rounds of append + delete + live-view searches, then a merge. Each
    call is one op; the merge and the searches after it are checked but
    not timed into the loop."""
    out = Outcome()
    engine, base_pdf, idx_dir, manifest = _serving_setup(
        ctx, out, ctx.n("ingest_base"), "live")
    rng = np.random.default_rng(ctx.seed + 3)
    stream = query_stream(base_pdf, INGEST_SCHEDULE, 400, rng)
    seg_n = ctx.n("ingest_segment")
    n_del = max(1, int(SIZES["ingest_deletes"] * ctx.scale))
    base_ids = doc_ids(base_pdf)
    live = base_ids.copy()
    high_water = len(base_pdf)
    tr = ctx.tracer
    rounds = []        # (segment pdf, its ids, deleted ids, answers)
    appended = []      # append manifests
    append_s, delete_s, search_s, first_s = [], [], [], []
    with ctx.memory:
        end = _deadline(ctx)
        t_loop = time.perf_counter()
        gen_s = 0.0          # segment generation, left out of the loop's wall
        r = 0
        while True:
            t = time.perf_counter()
            seg = make_corpus(seg_n, ctx.seed * 1000 + r + 1,
                              conv_prefix=f"seg{r:04d}_")
            seg_dir = ctx.path(f"seg{r}")
            write_parquet(seg, seg_dir)
            seg_ids = doc_ids(seg, base=high_water)
            victims = rng.choice(live, size=min(n_del, len(live)),
                                 replace=False)
            queries = [stream[(r * INGEST_SEARCHES + j) % len(stream)]
                       for j in range(INGEST_SEARCHES)]
            answers = []
            gen_s += time.perf_counter() - t
            with tr.span("bench.request", request=r) as ra:
                t = time.perf_counter()

                def append(seg_dir=seg_dir):
                    with tr.span("streaming.append_segment") as a:
                        a["manifest"] = append_segment(
                            ctx.spark, idx_dir,
                            ctx.spark.read.parquet(seg_dir), epoch=r)
                        return a["manifest"]

                m, ok = _guard(out, "append", append)
                t1 = time.perf_counter()
                if ok:
                    appended.append(m)
                if ok and int(m.get("doc_id_base", -1)) != high_water:
                    out.fail(f"append {r}: doc_id_base "
                             f"{m.get('doc_id_base')} != {high_water}")
                high_water += seg_n
                live = np.concatenate([live, seg_ids])

                def delete(victims=victims):
                    with tr.span("streaming.delete_docs"):
                        delete_docs(ctx.spark, idx_dir, victims.tolist())

                _guard(out, "delete", delete)
                t2 = time.perf_counter()
                live = np.setdiff1d(live, victims)
                searched = []
                for j, q in enumerate(queries):
                    tq = time.perf_counter()
                    res, _ = _guard(out, q.text, partial(
                        _engine_search, ctx, engine, "live", q, None,
                        first_after_mutation=j == 0))
                    searched.append(time.perf_counter() - tq)
                    answers.append((q, res))
            append_s.append(t1 - t)
            delete_s.append(t2 - t1)
            first_s.append(searched[0])
            search_s += searched
            out.op_s += [t1 - t, t2 - t1, *searched]
            out.attempted += 2 + len(queries)
            rounds.append((seg, seg_ids, victims, answers))
            _trace_after(ctx, ra)
            r += 1
            if r >= 2 and time.perf_counter() >= end:
                break
        out.loop_s = time.perf_counter() - t_loop - gen_s
    segments = len(list_segments(idx_dir))
    # the merge runs after the loop: its input grows with the rounds the
    # loop got through, so it stays out of the loop's metrics
    with tr.span("bench.request", request=r):
        t = time.perf_counter()

        def merge():
            with tr.span("streaming.merge_segments"):
                return merge_segments(ctx.spark, idx_dir)

        _guard(out, "merge", merge)
        merge_s = time.perf_counter() - t
        # the last round's queries again: a merge must not change answers
        post = []
        for j, (q, _) in enumerate(rounds[-1][3]):
            res, _ = _guard(out, q.text, lambda q=q, j=j: _engine_search(
                ctx, engine, "live", q, None, first_after_mutation=j == 0))
            post.append((q, res))
    out.attempted += 1 + len(post)

    _analyzer_rate(ctx, base_pdf["text"].tolist())
    oracle = _oracle(base_pdf, base_ids)
    _check_build(out, manifest, idx_dir, len(base_pdf), oracle.vocab())
    for m in appended:
        docs = m["stages"]["docs"]["counters"]["docs"]
        if docs != seg_n:
            out.fail(f"append: docs {docs} != segment turns {seg_n}")
    out.checked += 1            # the merge, through the post-merge answers
    for seg, seg_ids, victims, answers in rounds:
        seg_tokens = analyze_batch(seg["text"].tolist())
        oracle.add(seg_ids.tolist(), seg_tokens, seg["role"].tolist())
        oracle.delete(victims)
        out.checked += 2        # append and delete, through the answers
        for q, res in answers:
            _check_query(out, oracle, q, res, engine=True)
    for q, res in post:
        _check_query(out, oracle, q, res, engine=True)
    oracle.close()
    all_text = text_bytes(base_pdf) + sum(text_bytes(x[0]) for x in rounds)
    out.index_bytes = parquet_bytes(idx_dir)
    out.text_bytes = all_text
    out.payload_cols = term_blocks(idx_dir)[1]
    out.report.update({
        "base_turns": len(base_pdf), "segment_turns": seg_n,
        "deletes_per_round": n_del, "rounds": len(rounds),
        "segments_before_merge": segments,
        "tombstones": sum(len(x[2]) for x in rounds),
        "text_bytes": all_text,
        "append_p50_s": float(np.median(append_s)),
        "delete_p50_s": float(np.median(delete_s)),
        "first_search_p50_s": float(np.median(first_s)),
        "query_p50_s": float(np.median(search_s)),
        "merge_s": merge_s,
    })
    return out


WORKLOADS = {
    "serve_mixed": run_serve_mixed,
    "serve_skew": run_serve_skew,
    "ingest": run_ingest,
}
