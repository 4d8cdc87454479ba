"""Benchmark inputs and their expected outputs.

Pages come from ``kgp.synth.page_row`` (the generator behind
``synth_pages``) for the run's seed; the expected outputs come from
``kgp.oracle``, the pure-Python twin of the pipeline. Both are cached
under the benchmark's own work directory keyed by
(PAGES_SYNTH_VERSION, n, seed) -- never the shared ``/tmp/kgp_pages``
cache the test suite uses. Outputs are read back with pyarrow, so a
check launches no Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from kgbench.stats import now

Triple = tuple[str, str, str]


@dataclass
class Inputs:
    pages_dir: Path            # n pages in ``parts`` parquet files
    parts: list[Path]          # the files, in row order
    urls: list[list[str]]      # urls per part
    text: dict[str, str]       # url -> oracle extracted_text
    triples: dict[str, list[Triple]]  # url -> oracle (subj, pred, obj)
    dates: list[list[str]]     # warc_ts dates per part, 'YYYY-MM-DD'
    generated: bool            # False when loaded from the cache

    def expected_triples(self, urls) -> set[Triple]:
        return {t for u in urls for t in self.triples[u]}


def ensure_inputs(
    cache_root: Path, n: int, seed: int, parts: int
) -> tuple[Inputs, float, float]:
    """Load (or build, then cache) the pages and expected outputs.
    Returns (inputs, seconds generating pages, seconds computing or
    loading the expected outputs); on a cache hit the first is 0."""
    from kgp.synth import PAGES_SYNTH_VERSION

    d = cache_root / f"{PAGES_SYNTH_VERSION}_n{n}_seed{seed}_p{parts}"
    generated = not (d / "_SUCCESS").exists()
    gen_s = expected_s = 0.0
    if generated:
        gen_s, expected_s = _build(d, n, seed, parts)
    t0 = now()
    with open(d / "expected.json") as f:
        exp = json.load(f)
    expected_s += now() - t0
    files = [d / "pages" / f"part-{i:03d}.parquet" for i in range(parts)]
    inputs = Inputs(
        pages_dir=d / "pages",
        parts=files,
        urls=exp["urls"],
        text=exp["text"],
        triples={u: [tuple(t) for t in ts] for u, ts in exp["triples"].items()},
        dates=exp["dates"],
        generated=generated,
    )
    return inputs, gen_s, expected_s


def _build(d: Path, n: int, seed: int, parts: int) -> tuple[float, float]:
    """Write pages and expected outputs into ``d`` atomically; returns
    (seconds generating pages, seconds running the oracle)."""
    import pyarrow as pa

    from kgp.gazetteer import PAGES_SURFACES
    from kgp.oracle import extracted_text_for_page, triples_for_page
    from kgp.synth import synth_pages_pdf

    tmp = d.with_name(d.name + f".tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "pages").mkdir(parents=True)
    t0 = now()
    pdf = synth_pages_pdf(n, seed)
    # microsecond timestamps, as Spark's own parquet writer stores them
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    bounds = [i * n // parts for i in range(parts + 1)]
    urls, dates = [], []
    for i in range(parts):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(
            table.slice(lo, hi - lo), tmp / "pages" / f"part-{i:03d}.parquet"
        )
        urls.append(list(pdf["url"][lo:hi]))
        dates.append(sorted(set(pdf["warc_ts"][lo:hi].dt.strftime("%Y-%m-%d"))))
    t1 = now()
    exp = {
        "urls": urls,
        "dates": dates,
        "text": {
            u: extracted_text_for_page(t) for u, t in zip(pdf["url"], pdf["text"])
        },
        "triples": {
            u: [list(r[:3]) for r in triples_for_page(u, t, PAGES_SURFACES)]
            for u, t in zip(pdf["url"], pdf["text"])
        },
    }
    with open(tmp / "expected.json", "w") as f:
        json.dump(exp, f)
    t2 = now()
    (tmp / "_SUCCESS").touch()
    try:
        os.rename(tmp, d)
    except OSError:  # another run published the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return t1 - t0, t2 - t1


# ---------------------------------------------------------------------------
# comparators
# ---------------------------------------------------------------------------


def read_table(path: Path, columns: list[str]):
    """A (possibly hive-partitioned) parquet directory as a pyarrow
    table; Spark's ``_SUCCESS``/``.crc`` files are skipped."""
    return ds.dataset(
        str(path), format="parquet", partitioning="hive",
        ignore_prefixes=["_", "."],
    ).to_table(columns=columns)


def triple_diff(got: list[Triple], expected: set[Triple]) -> list[str]:
    """Problems with an output triple list, against the oracle set:
    missing triples, extra triples and duplicate rows. Empty when the
    output equals the oracle (P = R = 1.0)."""
    counts = Counter(got)
    problems = []
    missing = expected - counts.keys()
    extra = counts.keys() - expected
    dups = [t for t, c in counts.items() if c > 1]
    if missing:
        problems.append(f"{len(missing)} missing, e.g. {min(missing)}")
    if extra:
        problems.append(f"{len(extra)} extra, e.g. {min(extra)}")
    if dups:
        problems.append(f"{len(dups)} duplicated, e.g. {min(dups)}")
    return problems


def text_diff(got: dict[str, str], expected: dict[str, str]) -> list[str]:
    """Problems with url -> extracted_text against the oracle."""
    bad = [u for u in expected if got.get(u) != expected[u]]
    extra = got.keys() - expected.keys()
    problems = []
    if bad:
        problems.append(f"{len(bad)} urls with wrong/missing text, e.g. {bad[0]}")
    if extra:
        problems.append(f"{len(extra)} unexpected urls")
    return problems


def check_kg(out_dir: Path, inputs: Inputs) -> list[str]:
    """build_kg_pipeline output: triples and docs against the oracle."""
    t = read_table(out_dir / "triples", ["subj", "pred", "obj"])
    got = list(zip(*(t.column(c).to_pylist() for c in ("subj", "pred", "obj"))))
    urls = [u for part in inputs.urls for u in part]
    problems = triple_diff(got, inputs.expected_triples(urls))
    docs = read_table(out_dir / "docs", ["url", "extracted_text"])
    text = dict(zip(docs.column("url").to_pylist(),
                    docs.column("extracted_text").to_pylist()))
    if docs.num_rows != len(text):
        problems.append(f"{docs.num_rows - len(text)} duplicate docs rows")
    return problems + text_diff(text, inputs.text)


def check_stream(sink: Path, inputs: Inputs, n_parts: int) -> list[str]:
    """Triples sink after ``n_parts`` waves: exactly the oracle's
    triples of the landed pages, and no duplicate rows."""
    t = read_table(sink, ["subj", "pred", "obj"])
    got = list(zip(*(t.column(c).to_pylist() for c in ("subj", "pred", "obj"))))
    urls = [u for part in inputs.urls[:n_parts] for u in part]
    return triple_diff(got, inputs.expected_triples(urls))


def check_split(out_dir: Path, inputs: Inputs) -> list[str]:
    """build_training_pipeline output: every surviving doc in exactly
    one split, split rows = deduped rows, texts equal to the oracle."""
    t = read_table(out_dir / "split", ["doc_id", "url", "extracted_text", "split"])
    ids = Counter(t.column("doc_id").to_pylist())
    problems = []
    multi = [d for d, c in ids.items() if c > 1]
    if multi:
        problems.append(f"{len(multi)} docs in more than one split")
    deduped = parquet_rows(out_dir / "deduped")
    if t.num_rows != deduped:
        problems.append(f"split rows {t.num_rows} != deduped rows {deduped}")
    bad = [
        u for u, x in zip(t.column("url").to_pylist(),
                          t.column("extracted_text").to_pylist())
        if inputs.text.get(u) != x
    ]
    if bad:
        problems.append(f"{len(bad)} split docs with wrong text, e.g. {bad[0]}")
    return problems


def parquet_files(path: Path) -> list[Path]:
    return [
        p for p in path.rglob("*.parquet")
        if not any(part.startswith(("_", ".")) for part in p.relative_to(path).parts)
    ]


def parquet_rows(path: Path) -> int:
    """Row count from parquet footers (no data read)."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in parquet_files(path))


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in parquet_files(path))
