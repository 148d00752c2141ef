"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy PCG64), so one seed
gives byte-identical inputs.  Each returns the *measured* share of the
input properties the engine's behaviour depends on, so a later
"helps only inputs with property X" claim can cite the share.
"""

from __future__ import annotations

import sqlite3
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LANGS = ["de", "en", "es", "fr", "zh"]


def _write(path: Path, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), path)


# --- documents: the near_dup corpus ------------------------------------------

#: The corpus shape is measured on the sf0.1 fixture ``documents.parquet``
#: (5000 docs, 270 704 tokens):
#:
#: * VOCAB: its 30 content words, each 3.26-3.39 % of all tokens.  A Zipf
#:   law fitted by maximum likelihood over them gives ZIPF_S = 0.05
#:   (k80_zipf_fit's least-squares slope, which also counts the marker
#:   word, reads 0.16), so the vocabulary is nearly flat.
#: * TOKENS: tokens per doc, uniform from 10 to 100 (mean 54.1).
#: * Near-duplicates: of its 256 doc pairs with token-shingle Jaccard
#:   >= 0.5, every one is a copy of a base doc with the MARKER word
#:   appended, 0-3 times; EDIT_WEIGHTS counts the pairs per number of
#:   appended words.  The fixture has 5 % copies; NEAR_DUP_SHARE is
#:   raised to 20 % so the pair pipeline has work to verify.
VOCAB = (
    "spark window merge table column vector stream value data small join filter"
    " big group hash customer sort order slow line part fast row the agg key"
    " query a scan batch"
).split()
MARKER = "dup"
ZIPF_S, TOKENS, EDIT_WEIGHTS, NEAR_DUP_SHARE = 0.05, (10, 100), (8, 243, 4, 1), 0.2


def documents(path: Path, seed: int, n_docs: int) -> tuple[dict, list[tuple[int, int]]]:
    """Write ``documents.parquet`` in the fixture schema
    (doc_id, text, lang, source, n_chars).

    Originals draw TOKENS words from a Zipf law over VOCAB.  A
    NEAR_DUP_SHARE of the docs are planted near-duplicates: a copy of a
    random original with MARKER appended 0-3 times (EDIT_WEIGHTS).  Doc
    ids are a random permutation, so a copy's id may sort before its
    base's.  Returns (measured shares, planted (base_id, copy_id) pairs)."""
    rng = np.random.default_rng([seed, 1])
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** ZIPF_S
    p /= p.sum()
    n_copies = int(round(n_docs * NEAR_DUP_SHARE))
    n_orig = n_docs - n_copies
    texts: list[list[str]] = []
    for _ in range(n_orig):
        n = int(rng.integers(TOKENS[0], TOKENS[1] + 1))
        texts.append([VOCAB[i] for i in rng.choice(len(VOCAB), n, p=p)])
    bases = rng.integers(0, n_orig, n_copies)
    w = np.array(EDIT_WEIGHTS, float)
    edits = rng.choice(len(w), n_copies, p=w / w.sum())
    for b, e in zip(bases, edits):
        texts.append(texts[b] + [MARKER] * int(e))
    ids = rng.permutation(n_docs).astype("int64")
    planted = [(int(ids[b]), int(ids[n_orig + j])) for j, b in enumerate(bases)]
    joined = [" ".join(t) for t in texts]
    _write(
        path,
        {
            "doc_id": ids,
            "text": joined,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in joined], dtype="int64"),
        },
    )
    shares = {
        "docs": n_docs,
        "near_dup_share": round(n_copies / n_docs, 4),
        "exact_dup_share": round(float(np.mean(edits == 0)) * n_copies / n_docs, 4),
        "planted_pairs": len(planted),
        "mean_tokens": round(float(np.mean([len(t) for t in texts])), 2),
    }
    return shares, planted


# --- upc_load: a messy UPC worklist, the existing keys, a seeded target -----

PRODUCTS_DDL = (
    "CREATE TABLE products (upc TEXT PRIMARY KEY, sku TEXT, brand TEXT,"
    " price REAL, in_stock INTEGER)"
)


def _check_digit(body: str) -> str:
    """GS1 check digit of a 12-digit body (weights 3,1,... from the right)."""
    total = sum(int(d) * (3 if i % 2 == 0 else 1) for i, d in enumerate(reversed(body)))
    return str((10 - total % 10) % 10)


def _formats(key: str, kind: int) -> str:
    """Render a 13-digit key (leading 0) as one raw worklist format."""
    upc12 = key[1:]
    if kind == 0:  # dashed, as the fixtures' synth_raw_upc writes it
        return f"{upc12[:4]}-{upc12[4:]}"
    if kind == 1:  # padded with whitespace
        return f"  {upc12} "
    if kind == 2:  # bare 12-digit UPC-A
        return upc12
    return key  # bare 13-digit GTIN


#: upc_inputs(): worklist shares of duplicate, existing and invalid rows.
#: These are set, not measured: the fixtures carry no UPC worklist (the
#: registry's etl_load_upcs synthesizes dashed UPCs from part keys), so
#: there is no observed mix to copy.  Each valid row takes one of the four
#: raw formats with equal odds; every run reports the shares it drew.
DUP_SHARE, EXISTING_SHARE, INVALID_SHARE = 0.30, 0.20, 0.05


def upc_inputs(out: Path, seed: int, n_rows: int) -> tuple[dict, dict]:
    """Write ``worklist.parquet`` (upc_raw), ``existing.parquet`` (upc) and a
    pre-seeded sqlite target ``target.db`` for ``pipelines.etl.load_upcs``.

    Row classes of the worklist: invalid (NULL upc_raw, the rows the
    pipeline's normalize filter drops), duplicate (a key seen earlier in
    the worklist, usually in another format), existing (first sight of a
    key already in the target) and new.  The target holds exactly the
    existing keys.
    Returns (measured shares, reference) where reference has the raw
    worklist, the existing-key rows and the pre-seeded target rows."""
    rng = np.random.default_rng([seed, 3])
    n_invalid = int(round(n_rows * INVALID_SHARE))
    n_dup = int(round(n_rows * DUP_SHARE))
    n_existing = int(round(n_rows * EXISTING_SHARE))
    n_new = n_rows - n_invalid - n_dup - n_existing
    first = []  # existing keys first, then new ones
    for b in rng.choice(10**11, n_existing + n_new, replace=False):
        body = f"{int(b):011d}"
        first.append("0" + body + _check_digit(body))
    head = first + [None] * n_invalid
    head = [head[i] for i in rng.permutation(len(head))]
    # each duplicate lands somewhere after its key's first sight, so the
    # row classes are unambiguous in worklist order
    pos = {k: i for i, k in enumerate(head) if k is not None}
    dups: list[list[str]] = [[] for _ in range(len(head) + 1)]
    for i in rng.integers(0, len(first), n_dup):
        k = first[i]
        dups[int(rng.integers(pos[k] + 1, len(head) + 1))].append(k)
    rows: list[str | None] = []
    for q, k in enumerate(head):
        rows.extend(dups[q])
        rows.append(k)
    rows.extend(dups[-1])
    kinds = rng.integers(0, 4, n_rows)
    raw = [None if k is None else _formats(k, int(kinds[i])) for i, k in enumerate(rows)]
    existing = first[:n_existing]
    seeded = [
        (k, f"OLD-{k}", "Brand#old", float(i % 1000), i % 2) for i, k in enumerate(existing)
    ]
    _write(out / "worklist.parquet", {"upc_raw": pa.array(raw, pa.string())})
    _write(out / "existing.parquet", {"upc": pa.array(existing, pa.string())})
    con = sqlite3.connect(out / "target.db")
    try:
        con.execute(PRODUCTS_DDL)
        con.executemany("INSERT INTO products VALUES (?, ?, ?, ?, ?)", seeded)
        con.commit()
    finally:
        con.close()
    counts = dict.fromkeys(("invalid", "dup", "existing", "new"), 0)
    fmt = [0, 0, 0, 0]
    seen: set[str] = set()
    in_target = set(existing)
    for i, k in enumerate(rows):
        if k is None:
            counts["invalid"] += 1
            continue
        fmt[int(kinds[i])] += 1
        cls = "dup" if k in seen else "existing" if k in in_target else "new"
        counts[cls] += 1
        seen.add(k)
    n_valid = n_rows - counts["invalid"]
    shares = {"rows": n_rows}
    shares.update({f"{c}_share": round(v / n_rows, 4) for c, v in counts.items()})
    for name, v in zip(("dashed", "padded", "bare12", "bare13"), fmt):
        shares[f"format_{name}"] = round(v / n_valid, 4)
    return shares, {"raw": raw, "existing": existing, "seeded": seeded}
