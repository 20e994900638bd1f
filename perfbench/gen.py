"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed
writes the same bytes. Nothing here imports Spark; the program under
test only ever sees the files these functions write.

- ``write_star_fixture``: the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``, one single-row-group parquet file per
  table, with the row counts and value domains of the engine's standard
  test fixtures at the given scale factor.
- ``write_doc_dir``: a document directory (mostly ``.txt``, plus
  FlateDecode ``.pdf`` and ``.docx`` built with the standard library)
  split into a base and a delta slice, with the text each file must
  extract to.
- ``query_texts``: seeded search strings over the same vocabulary.
- ``write_curate_table``: a parquet documents table with planted
  low-quality docs, exact duplicates and near-duplicate variants.
"""

from __future__ import annotations

import io
import os
import zipfile
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- star-schema fixture ------------------------------------------------

_SOUP = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_COLORS = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
_THINGS = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (documents and embeddings
    stay at 500 rows up to sf0.01, as in the engine's fixtures)."""
    small = sf <= 0.01
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 500 if small else int(50_000 * sf),
        "embeddings": 500 if small else int(20_000 * sf),
    }


def write_star_fixture(dest: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write the ten fixture tables under ``dest``; return their row counts."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = star_row_counts(sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}),
        f"{dest}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{dest}/nation.parquet",
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    k = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": np.arange(k, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, k),
                "c_mktsegment": segs[rng.integers(0, 5, k)],
            }
        ),
        f"{dest}/customer.parquet",
    )
    k = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(k, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, k),
            }
        ),
        f"{dest}/supplier.parquet",
    )
    k = n["part"]
    names = np.array([f"{c} {t}" for c in _COLORS for t in _THINGS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(
        pa.table(
            {
                "p_partkey": np.arange(k, dtype=np.int64),
                "p_name": names[rng.integers(0, len(names), k)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
                "p_type": types[rng.integers(0, len(types), k)],
                "p_size": rng.integers(1, 51, k).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
            }
        ),
        f"{dest}/part.parquet",
    )
    k = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(k, dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, k),
                "o_orderdate": _days(rng, k, 0, 2405),
                "o_orderpriority": prio[rng.integers(0, 5, k)],
            }
        ),
        f"{dest}/orders.parquet",
    )
    k = n["lineitem"]
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
                "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
                "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
                "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, k),
                "l_discount": rng.integers(0, 11, k) / 100.0,
                "l_tax": rng.integers(0, 9, k) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
                "l_shipdate": _days(rng, k, 1, 2500),
            }
        ),
        f"{dest}/lineitem.parquet",
    )
    k = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, k)).astype(
        "timedelta64[us]"
    )
    _write(
        pa.table(
            {
                "event_id": np.arange(k, dtype=np.int64),
                "ts": ts,
                "user_id": rng.integers(0, max(15, int(15_000 * sf)), k).astype(np.int64),
                "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                    rng.integers(0, 5, k)
                ],
                "value": np.round(rng.exponential(50.0, k), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
            }
        ),
        f"{dest}/events.parquet",
    )
    k = n["documents"]
    soup = np.array(_SOUP)
    texts = [
        " ".join(soup[rng.integers(0, len(soup), int(rng.integers(10, 101)))])
        for _ in range(k)
    ]
    # ~5% near-duplicates: an earlier doc plus one marker word
    for i in np.flatnonzero(rng.random(k) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(
        pa.table(
            {
                "doc_id": np.arange(k, dtype=np.int64),
                "text": texts,
                "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[
                    rng.integers(0, 7, k)
                ],
                "source": [f"src{i % 20}" for i in range(k)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{dest}/documents.parquet",
    )
    k = n["embeddings"]
    dim = 64
    labels = rng.integers(0, 10, k)
    centers = rng.normal(0.0, 0.07, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(dim), (k, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": np.arange(k, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        f"{dest}/embeddings.parquet",
    )
    return n


# --- document directory -------------------------------------------------


def _vocab(size: int) -> list[str]:
    """Pronounceable pseudo-words, fixed (not seeded): the same words in
    every corpus, so query texts always hit indexed terms."""
    rng = np.random.default_rng(size)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    out: set[str] = set()
    while len(out) < size:
        syl = int(rng.integers(2, 5))
        out.add(
            "".join(cons[rng.integers(0, 16)] + vows[rng.integers(0, 5)] for _ in range(syl))
        )
    return sorted(out)


VOCAB = _vocab(1500)
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
_ZIPF /= _ZIPF.sum()


def _sentence(rng: np.random.Generator) -> str:
    words = [VOCAB[i] for i in rng.choice(len(VOCAB), int(rng.integers(6, 15)), p=_ZIPF)]
    return words[0].capitalize() + " " + " ".join(words[1:]) + ".!?"[int(rng.integers(0, 3))]


def _paragraphs(rng: np.random.Generator, lo: int, hi: int) -> list[list[str]]:
    return [
        [_sentence(rng) for _ in range(int(rng.integers(3, 7)))]
        for _ in range(int(rng.integers(lo, hi)))
    ]


def build_pdf(lines: list[str]) -> bytes:
    """A valid one-page PDF whose FlateDecode content stream shows one
    text line per entry of ``lines`` (correct xref offsets)."""
    ops = b"BT /F1 11 Tf 72 720 Td " + b" T* ".join(
        b"(%s) Tj" % ln.encode("latin-1") for ln in lines
    ) + b" ET"
    body = zlib.compress(ops)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(body), body),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, obj)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref_at,
    )
    return bytes(out)


def build_docx(paragraphs: list[str]) -> bytes:
    """A minimal ECMA-376 container with one ``w:p`` per paragraph."""
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    paras = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{p}</w:t></w:r></w:p>' for p in paragraphs
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{w}"><w:body>{paras}</w:body></w:document>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        'relationships"><Relationship Id="rId1" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/officeDocument"
        '" Target="word/document.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", rels),
            ("word/document.xml", document),
        ):
            # fixed timestamp: same seed, same bytes
            z.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def write_doc_dir(
    base_dir: str, delta_dir: str, n_base: int, n_delta: int, seed: int
) -> dict[str, str]:
    """Write ``n_base`` documents to ``base_dir`` and ``n_delta`` more to
    ``delta_dir``; return {filename: text the reader must extract}.

    Every 10th document is a PDF and every 10th (offset 5) a DOCX; the
    rest are ``.txt`` with NBSP, tab runs and extra blank lines that the
    cleaner must normalise."""
    rng = np.random.default_rng([seed, 1])
    expected: dict[str, str] = {}
    for i in range(n_base + n_delta):
        dest = base_dir if i < n_base else delta_dir
        os.makedirs(dest, exist_ok=True)
        paras = _paragraphs(rng, 2, 9)
        if i % 10 == 0:
            name, lines = f"doc{i:05d}.pdf", [s for p in paras for s in p]
            payload, text = build_pdf(lines), "\n".join(lines)
        elif i % 10 == 5:
            name, lines = f"doc{i:05d}.docx", [" ".join(p) for p in paras]
            payload, text = build_docx(lines), "\n".join(lines)
        else:
            name = f"doc{i:05d}.txt"
            text = "\n\n\n".join(" ".join(p) for p in paras)
            text = text.replace(" ", " ", 1).replace(" ", " \t ", 1)
            payload = text.encode("utf-8")
        with open(os.path.join(dest, name), "wb") as fh:
            fh.write(payload)
        expected[name] = text
    return expected


def query_texts(n: int, seed: int) -> list[str]:
    """Seeded search strings: 3 to 8 words of the document vocabulary."""
    rng = np.random.default_rng([seed, 2])
    return [
        " ".join(VOCAB[i] for i in rng.choice(len(VOCAB), int(rng.integers(3, 9)), p=_ZIPF))
        for _ in range(n)
    ]


# --- curation table -----------------------------------------------------

_STOP = ["the", "a", "of", "and", "to", "in", "is"]


def write_curate_table(
    path: str, n_unique: int, n_low: int, n_exact: int, n_near: int, seed: int
) -> tuple[dict[str, int], dict[int, int]]:
    """Write a documents parquet (``doc_id``, ``text``, ``lang``,
    ``source``); return the counts the curation must reproduce and each
    doc's planted group (the doc_id of the original it copies).

    - ``n_unique`` distinct good docs: 40-120 words of a 20,000-word
      vocabulary plus stopwords, no two sharing a word pair;
    - ``n_low`` docs that fail the Gopher rules (too few words, or '#'
      symbol runs);
    - ``n_exact`` verbatim copies and ``n_near`` variants of good docs,
      always at higher doc_ids than their original. A variant changes
      one to three word separators (double space, newline, tab): a new
      md5, so exact dedup keeps it, but the same words, so its MinHash
      estimate against the original is 1.0, far above the 0.25
      threshold. (A one-word edit is not safe: the engine's MinHash
      permutations are affine maps of one hash, so the one changed
      word pair becomes the minimum of nearly every component about
      once in a hundred docs and the pair is never banded.)
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(20000)
    used: set[tuple[str, str]] = set()

    def good() -> list[str]:
        # Unrelated docs share no word pair at all. The engine's MinHash
        # permutations are affine maps of one char-fold hash, so a single
        # shared pair with a small hash can win most components and pair
        # two unrelated docs. Stopwords sit at odd positions 1..11, never
        # next to each other.
        n = int(rng.integers(40, 121))
        stops = {j: _STOP[k] if k < 2 else _STOP[int(rng.integers(0, len(_STOP)))]
                 for k, j in enumerate(range(1, 13, 2))}
        words: list[str] = []
        for j in range(n):
            if j in stops:
                words.append(stops[j])
                continue
            while True:
                w = vocab[int(rng.integers(0, len(vocab)))]
                if (j == 0 or (words[-1], w) not in used) and (w, stops.get(j + 1)) not in used:
                    break
            words.append(w)
        used.update(zip(words, words[1:]))
        return words

    originals = [good() for _ in range(n_unique)]
    texts = [" ".join(w) for w in originals]
    source = list(range(n_unique))  # planted group: the original's index
    for k in range(n_low):
        w = good()[: int(rng.integers(5, 15))] if k % 2 else [f"#{x}" for x in good()]
        texts.append(" ".join(w))
        source.append(len(source))
    for _ in range(n_exact):
        i = int(rng.integers(0, n_unique))
        texts.append(texts[i])
        source.append(i)
    for _ in range(n_near):
        i = int(rng.integers(0, n_unique))
        seps = [" "] * (len(originals[i]) - 1)
        for j in rng.choice(len(seps), int(rng.integers(1, 4)), replace=False):
            seps[j] = ("  ", "\n", "\t")[int(rng.integers(0, 3))]
        texts.append("".join(w + sep for w, sep in zip(originals[i], seps + [""])))
        source.append(i)
    # shuffle, keeping every original below every copy: originals take
    # the ids of the low block
    order = np.concatenate(
        [rng.permutation(n_unique), n_unique + rng.permutation(len(texts) - n_unique)]
    )
    id_of = np.empty(len(order), dtype=np.int64)
    id_of[order] = np.arange(len(order))
    texts = [texts[i] for i in order]
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    _write(
        pa.table(
            {
                "doc_id": np.arange(len(texts), dtype=np.int64),
                "text": texts,
                "lang": np.array(["de", "en", "fr"])[rng.integers(0, 3, len(texts))],
                "source": [f"src{i % 7}" for i in range(len(texts))],
            }
        ),
        path,
    )
    counts = {"n_in": len(texts), "n_quality": len(texts) - n_low, "n_dedup": n_unique}
    groups = {int(id_of[j]): int(id_of[source[j]]) for j in range(len(source))}
    return counts, groups


def expected_splits(survivor_ids: list[int]) -> dict[str, int]:
    """Per-split totals under the engine's default train/val/test hash
    split, recomputed in pure Python (salt 'split', 0.8/0.1/0.1)."""
    m31 = 2147483647
    total = 0.8 + 0.1 + 0.1
    cut_train = 0.8 / total
    cut_val = cut_train + 0.1 / total
    out = {"train": 0, "val": 0, "test": 0}
    for i in survivor_ids:
        h = 0
        for ch in f"split:{i}":
            h = (h * 131 + ord(ch)) % m31
        for _ in range(3):
            h = h * 48271 % m31
        frac = h / m31
        out["train" if frac < cut_train else "val" if frac < cut_val else "test"] += 1
    return out
