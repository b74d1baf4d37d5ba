"""Seeded benchmark inputs and the goldens they are scored against.

Two input kinds, both pure functions of ``(seed, n_docs)``:

* the parsed table ``documents(doc_id, spans)`` from the in-repo
  synthetic corpus (``corpus_pandas``), seed ``s`` mapping to the doc
  index range starting at ``s * SEED_STRIDE``; goldens are the same
  rows' by-construction ``expected_*`` columns (what ``goldens_pandas``
  returns for that range);
* a directory of raw files in mixed formats rendered with the in-repo
  ``make_fixture_*`` builders from seeded prose, with planted
  near-duplicate clusters and empty, truncated and corrupt files. The
  golden for each file is the span list that decoding
  (``parse_raw_bytes``) followed by ``extract_main_content`` must
  produce, built from the rendered text, or ``None`` for a damaged
  file, which must yield no text-bearing span.

Inputs are written once per (kind, seed, size) under ``root`` and
reused; the program under test only ever sees the written files.
"""

from __future__ import annotations

import json
import os
import random
import shutil

SEED_STRIDE = 100_000  # a multiple of 100 keeps the corpus archetype mix
WARM_PARTS = 8  # files per parsed input; raw warm-up is the first 1/8

# -- parsed table ------------------------------------------------------------


def _span_type():
    import pyarrow as pa

    return pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))


def write_parsed(path: str, seed: int, n_docs: int) -> None:
    """documents parquet + golden spans/fields parquet under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from extractthinker_spark.corpus import corpus_pandas

    docs = corpus_pandas(n_docs, start=seed * SEED_STRIDE)
    spans_schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", _span_type(), False),
    ])
    # Several files, so every scan starts a task, and so a Python
    # worker, on every local core.
    os.makedirs(os.path.join(path, "documents"))
    step = -(-n_docs // WARM_PARTS)
    for k in range(WARM_PARTS):
        pq.write_table(
            pa.Table.from_pandas(
                docs.iloc[k * step:(k + 1) * step][["doc_id", "spans"]],
                schema=spans_schema, preserve_index=False),
            os.path.join(path, "documents", f"part-{k:02d}.parquet"),
        )
    # The goldens are the same rows' expected_* columns, which is what
    # goldens_pandas re-derives (generating the corpus a second time).
    pq.write_table(
        pa.Table.from_pandas(
            docs[["doc_id", "expected_spans"]].rename(
                columns={"expected_spans": "spans"}),
            schema=spans_schema, preserve_index=False),
        os.path.join(path, "golden_spans.parquet"),
    )
    fields = [(r.doc_id, c, f, v) for r in docs.itertuples()
              for (c, f, v) in r.expected_fields]
    pq.write_table(
        pa.table(list(map(list, zip(*fields))) if fields else [[]] * 4,
                 names=["doc_id", "contract", "field", "value"]),
        os.path.join(path, "golden_fields.parquet"),
    )


# -- raw corpus ----------------------------------------------------------------

_STOP = ("the of and to in is that with for it as on be this have from by "
         "not are was at or an which their").split()
# Share of each rendered format, in percent. "bad" covers the damaged
# files: empty, truncated pdf, truncated docx and unsniffable bytes.
FORMAT_MIX = (
    ("txt", 22), ("html", 20), ("pdf", 16), ("docx", 10), ("eml", 10),
    ("pptx", 6), ("odt", 6), ("bad", 10),
)
_BAD = ("empty", "trunc_pdf", "trunc_docx", "noise")
CLUSTER_SHARE = 20  # one near-duplicate cluster per this many docs
EDIT_SHARE = 0.01   # share of words replaced in a near-duplicate copy
_EML_HEADER = ("From: Alice <alice@example.org>\nTo: bob@example.org\n"
               "Date: Mon, 01 Jan 2024 00:00:00 +0000")


def _vocabulary() -> list[str]:
    """A fixed 4000-word pseudo-English vocabulary (seed independent)."""
    rng = random.Random(7)
    onset = "b c d f g h j k l m n p r s t v w z br cl dr fl gr pl st tr".split()
    vowel = "a e i o u ai ea ou".split()
    words: set[str] = set()
    while len(words) < 4000:
        words.add("".join(
            rng.choice(onset) + rng.choice(vowel)
            for _ in range(rng.randint(1, 3))
        ) + rng.choice(["", "n", "r", "s", "t", "l"]))
    return sorted(words)


def _prose(rng: random.Random, vocab: list[str]) -> list[list[str]]:
    """Paragraphs of sentence lines: each line one sentence ending in
    a full stop, enough words to pass the C4 and Gopher gates."""
    paras = []
    for _ in range(rng.randint(3, 5)):
        lines = []
        for _ in range(rng.randint(2, 4)):
            words = [
                rng.choice(_STOP) if rng.random() < 0.35 else rng.choice(vocab)
                for _ in range(rng.randint(8, 16))
            ]
            lines.append(" ".join(words).capitalize() + ".")
        paras.append(lines)
    return paras


def _edit(rng: random.Random, vocab: list[str], paras):
    """A near-duplicate: replace about EDIT_SHARE of the words (at
    least one), keeping every line's shape."""
    flat = [(p, l, w) for p, lines in enumerate(paras)
            for l, line in enumerate(lines)
            for w in range(len(line[:-1].split()))]
    out = [[line[:-1].split() for line in lines] for lines in paras]
    for p, l, w in rng.sample(flat, max(1, int(len(flat) * EDIT_SHARE))):
        out[p][l][w] = rng.choice(vocab)
    return [[(" ".join(ws).capitalize() + ".") for ws in lines]
            for lines in out]


def _render(fmt: str, title: str, paras, variant: int):
    """(file extension, bytes, golden spans as (kind, text, media_ref))."""
    from extractthinker_spark.operators.email_mime import make_fixture_eml
    from extractthinker_spark.operators.rawbytes import (
        make_fixture_docx,
        make_fixture_odt,
        make_fixture_pdf,
        make_fixture_pptx,
    )

    pages = ["\n".join(lines) for lines in paras]
    paged = [("pdf_text", p, None) for p in pages]
    if fmt == "txt":
        return "txt", "\n\n".join(pages).encode(), [
            ("text", p, None) for p in pages]
    if fmt == "html":
        body = "".join(f"<p>{' '.join(lines)}</p>" for lines in paras)
        html = (
            f"<html><head><title>{title}</title><script>var x=1;</script>"
            "</head><body><nav>Home | About | Contact</nav>"
            f"<article><h1>{title}</h1>{body}</article>"
            "<footer>(c) 2024 example.org</footer></body></html>"
        )
        main = " ".join([title] + [" ".join(lines) for lines in paras])
        return "html", html.encode(), [("text", main, None)]
    if fmt == "pdf":
        return "pdf", make_fixture_pdf(pages, compress=variant % 2 == 1), paged
    if fmt == "docx":
        return "docx", make_fixture_docx(pages), paged
    if fmt == "pptx":
        return "pptx", make_fixture_pptx(pages), paged
    if fmt == "odt":
        lines = [line for lines in paras for line in lines]
        return "odt", make_fixture_odt(lines), [
            ("pdf_text", "\n".join(lines), None)]
    if fmt == "eml":
        body = "\n".join(pages)
        return "eml", make_fixture_eml(body, subject=title), [
            ("text", f"Subject: {title}\n{_EML_HEADER}", None),
            ("text", body, None),
        ]
    raise ValueError(fmt)


def _render_bad(kind: str, rng: random.Random, pages: list[str]):
    from extractthinker_spark.operators.rawbytes import (
        make_fixture_docx,
        make_fixture_pdf,
    )

    if kind == "empty":
        return "txt", b""
    if kind == "trunc_pdf":
        return "pdf", make_fixture_pdf(pages)[:24]
    if kind == "trunc_docx":
        return "docx", make_fixture_docx(pages)[:60]
    return "bin", b"\x00\x01\x02\x03" + rng.randbytes(rng.randint(256, 2048))


def raw_plan(seed: int, n_docs: int):
    """``(files, clusters)``: ``(name, bytes, format, golden)`` per raw
    file, and the near-duplicate clusters as lists of names. The
    format mix is exact for every seed (shuffled, not sampled), so
    seeds differ in content and order but not in composition."""
    rng = random.Random(seed)
    vocab = _vocabulary()
    mix = [f for f, w in FORMAT_MIX for _ in range(w)]
    formats = (mix * -(-n_docs // len(mix)))[:n_docs]
    rng.shuffle(formats)
    bad_kinds = iter(_BAD * n_docs)
    # Each cluster: an original plus 1-3 edited copies, at random
    # undamaged slots.
    n_clusters = n_docs // CLUSTER_SHARE
    sizes = [rng.randint(2, 4) for _ in range(n_clusters)]
    good = [i for i, f in enumerate(formats) if f != "bad"]
    slots = iter(rng.sample(good, sum(sizes)))
    member_of = {next(slots): c for c, size in enumerate(sizes)
                 for _ in range(size)}
    originals: dict[int, list[list[str]]] = {}
    clusters: list[list[str]] = [[] for _ in range(n_clusters)]
    files = []
    for i, fmt in enumerate(formats):
        c = member_of.get(i)
        if c is None:
            paras = _prose(rng, vocab)
        elif c not in originals:
            paras = originals[c] = _prose(rng, vocab)
        else:
            paras = _edit(rng, vocab, originals[c])
        title = " ".join(rng.choice(vocab) for _ in range(3)).title()
        if fmt == "bad":
            ext, data = _render_bad(next(bad_kinds), rng,
                                    ["\n".join(lines) for lines in paras])
            golden = None
        else:
            ext, data, golden = _render(fmt, title, paras, i)
        name = f"r{seed}_{i:06d}.{ext}"
        if c is not None:
            clusters[c].append(name)
        files.append((name, data, fmt, golden))
    return files, clusters


def write_raw(path: str, seed: int, n_docs: int) -> None:
    """``files/`` holds the corpus; ``warm/`` a copy of its first
    1/WARM_PARTS, the warm-up slice."""
    files, clusters = raw_plan(seed, n_docs)
    os.makedirs(os.path.join(path, "files"))
    os.makedirs(os.path.join(path, "warm"))
    goldens = {}
    for k, (name, data, fmt, golden) in enumerate(files):
        dirs = ["files"] + (["warm"] if k < n_docs // WARM_PARTS else [])
        for d in dirs:
            with open(os.path.join(path, d, name), "wb") as f:
                f.write(data)
        goldens[name] = {"format": fmt, "spans": golden}
    with open(os.path.join(path, "golden.json"), "w") as f:
        json.dump({"files": goldens, "clusters": clusters}, f,
                  sort_keys=True)


WRITERS = {"parsed": write_parsed, "raw": write_raw}


def ensure(root: str, kind: str, seed: int, n_docs: int) -> str:
    """Path of the (kind, seed, n_docs) input set, generated on first
    use. Generation writes to a temporary directory renamed into place,
    so an interrupted run never leaves a partial set behind."""
    path = os.path.join(root, f"{kind}-s{seed}-n{n_docs}")
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    WRITERS[kind](tmp, seed, n_docs)
    os.rename(tmp, path)
    return path
