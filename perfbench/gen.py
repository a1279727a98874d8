"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs into a directory and returns a manifest
(``manifest.json`` in the same directory) holding the input sizes and the
values the output check expects. Expected values are derived from what the
generator emitted, using the extractor's documented semantics (exact
duplicates collapse, a precise value beats its rounded copy, two distinct
values of equal precision null the cell, dangling contextRefs and corrupt
filings drop their facts, rows with no non-null data cell are dropped) -- never
by running the code under test.

Sizes are fixed per workload; the seed only changes the values, so every seed
does the same amount of work.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq


XML_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<xbrli:xbrl xmlns:xbrli="http://www.xbrl.org/2003/instance" '
    'xmlns:ferc="http://ferc.gov/form/2022-01-01/ferc" '
    'xmlns:xbrldi="http://xbrl.org/2006/xbrldi" '
    'xmlns:iso4217="http://www.xbrl.org/2003/iso4217">\n'
)
XML_TAIL = "</xbrli:xbrl>\n"

COLUMN_TYPES = ["number", "number", "number", "integer", "string", "boolean", "date", "year"]

FORM1_WIDE = {
    "tables": 4,
    "filings": 3,
    "rows": (3, 10),
    "columns": (4, 40),
    "density": 0.6,
}
CURATE = {
    "docs": 1500,
    "strata": 6,
    "sample_n": 175,
    "pack_budget": 512,
    "neardup_threshold": 0.7,
    "bench_docs": 40,
}


# --------------------------------------------------------------------------
# XBRL filings
# --------------------------------------------------------------------------


def _catalog(n_tables: int, col_range) -> dict:
    """Form-1-shaped table specs: mixed period types, 0-3 axes, data column
    counts spread evenly over ``col_range``, typed columns named so each
    concept belongs to exactly one table. The shape does not depend on the
    seed, so every seed does the same amount of work."""
    lo, hi = col_range
    cat = {}
    for t in range(n_tables):
        period = "instant" if t % 3 == 2 else "duration"
        n_axes = t % 4
        n_cols = lo + (hi - lo) * t // max(n_tables - 1, 1)
        tid = f"t{t:02d}"
        columns = {}
        for c in range(n_cols):
            columns[f"{tid}_c{c:02d}"] = COLUMN_TYPES[(c + t) % len(COLUMN_TYPES)]
        cat[f"{tid}_sched_{period}"] = {
            "period_type": period,
            "axes": [f"{tid}_a{j}_axis" for j in range(n_axes)],
            "columns": columns,
        }
    return cat


def _value(rng: random.Random, ftype: str) -> str:
    if ftype == "number":
        # two decimals, last digit non-zero: the value is strictly more
        # precise than its 0-decimal rounding
        return f"{rng.randint(0, 999_999)}.{rng.randint(0, 9)}{rng.randint(1, 9)}"
    if ftype == "integer":
        return str(rng.randint(0, 9_999_999))
    if ftype == "string":
        return "s" + "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 16)))
    if ftype == "boolean":
        return rng.choice(["true", "false"])
    if ftype == "date":
        return f"20{rng.randint(10, 23)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    if ftype == "year":
        return str(rng.randint(1990, 2023))
    raise ValueError(ftype)


def _context_xml(cid: str, entity: str, spec: dict, dims: dict, year: int) -> str:
    seg = ""
    if dims:
        parts = []
        for axis, (kind, member) in dims.items():
            if kind == "explicit":
                parts.append(
                    f'<xbrldi:explicitMember dimension="ferc:{axis}">ferc:{member}</xbrldi:explicitMember>'
                )
            else:
                parts.append(
                    f'<xbrldi:typedMember dimension="ferc:{axis}"><ferc:{axis}_dom>{member}</ferc:{axis}_dom></xbrldi:typedMember>'
                )
        seg = "<xbrli:segment>" + "".join(parts) + "</xbrli:segment>"
    if spec["period_type"] == "instant":
        period = f"<xbrli:instant>{year}-12-31</xbrli:instant>"
    else:
        period = f"<xbrli:startDate>{year}-01-01</xbrli:startDate><xbrli:endDate>{year}-12-31</xbrli:endDate>"
    return (
        f'<xbrli:context id="{cid}"><xbrli:entity><xbrli:identifier scheme="http://www.ferc.gov/CID">'
        f"{entity}</xbrli:identifier>{seg}</xbrli:entity><xbrli:period>{period}</xbrli:period></xbrli:context>\n"
    )


def _fact_xml(name: str, cid: str, value: str) -> str:
    return f'<ferc:{name} contextRef="{cid}" decimals="INF">{value}</ferc:{name}>\n'


def _filing(rng: random.Random, catalog: dict, rows_for, density: float, entity: str, expected: dict):
    """One filing's XML; ``rows_for(t)`` is the number of contexts of axis
    table ``t``. Updates ``expected`` per table with the rows and non-null
    cells it should produce; returns (xml, emitted_facts)."""
    out = [XML_HEAD]
    facts: list[str] = []
    emitted = 0
    shared = {}  # no-axis tables share one context per (period type, year)
    n_ctx = 0
    for t, (tname, spec) in enumerate(catalog.items()):
        exp = expected[tname]
        contexts = []
        if not spec["axes"]:
            for year in (2021, 2020):
                key = (spec["period_type"], year)
                if key not in shared:
                    cid = f"c{n_ctx}"
                    n_ctx += 1
                    shared[key] = cid
                    out.append(_context_xml(cid, entity, spec, {}, year))
                contexts.append(shared[key])
        else:
            for r in range(rows_for(t)):
                dims = {}
                for j, axis in enumerate(spec["axes"]):
                    # the last axis is sometimes missing: the 'total' slice
                    if j == len(spec["axes"]) - 1 and j > 0 and rng.random() < 0.2:
                        continue
                    kind = "explicit" if j % 2 == 0 else "typed"
                    dims[axis] = (kind, f"m{r}x{j}")
                cid = f"c{n_ctx}"
                n_ctx += 1
                out.append(_context_xml(cid, entity, spec, dims, 2021))
                contexts.append(cid)
        for cid in contexts:
            row_cells = 0
            for col, ftype in spec["columns"].items():
                if rng.random() > density:
                    continue
                v = _value(rng, ftype)
                u = rng.random()
                if ftype == "number" and u < 0.03:
                    # unresolvable conflict: two values of equal precision
                    w = _value(rng, ftype)
                    while w == v:
                        w = _value(rng, ftype)
                    facts += [_fact_xml(col, cid, v), _fact_xml(col, cid, w)]
                    emitted += 2
                    exp["conflicts"] += 1
                    continue
                if ftype == "number" and u < 0.10:
                    # precision variant: the rounded copy loses to the precise value
                    facts.append(_fact_xml(col, cid, str(round(float(v)))))
                    emitted += 1
                elif u < 0.18:
                    facts.append(_fact_xml(col, cid, v))  # exact duplicate
                    emitted += 1
                facts.append(_fact_xml(col, cid, v))
                emitted += 1
                exp["nonnull"][col] += 1
                row_cells += 1
            if row_cells:
                exp["rows"] += 1
        # a few dangling contextRefs per table: parsed, never resolved
        for k in range(2):
            col = rng.choice(list(spec["columns"]))
            facts.append(_fact_xml(col, f"missing{k}", _value(rng, spec["columns"][col])))
            emitted += 1
    rng.shuffle(facts)
    out.extend(facts)
    out.append(XML_TAIL)
    return "".join(out), emitted


def _put(zf: zipfile.ZipFile, name: str, data: str) -> None:
    """Add a member with a fixed timestamp, so a seed always gives the same
    archive bytes."""
    zf.writestr(zipfile.ZipInfo(name, date_time=(2022, 1, 1, 0, 0, 0)), data, zipfile.ZIP_DEFLATED)


def _empty_expected(catalog: dict) -> dict:
    return {
        t: {"rows": 0, "nonnull": {c: 0 for c in s["columns"]}, "conflicts": 0}
        for t, s in catalog.items()
    }


def gen_form1_wide(out_dir: str, seed: int) -> dict:
    p = FORM1_WIDE
    rng = random.Random(f"form1_wide:{seed}")
    catalog = _catalog(p["tables"], p["columns"])
    lo, hi = p["rows"]
    expected = _empty_expected(catalog)
    buf = io.BytesIO()
    rss = {}
    xml_bytes = 0
    emitted = 0
    with zipfile.ZipFile(buf, "w") as zf:
        for f in range(p["filings"]):
            entity = f"C{rng.randint(0, 999_999):06d}"
            xml, n = _filing(
                rng, catalog, lambda t, f=f: lo + (t * 7 + f * 3) % (hi - lo + 1), p["density"], entity, expected
            )
            member = f"{entity}_form1_2021_{f}.xbrl"
            _put(zf, member, xml)
            xml_bytes += len(xml)
            emitted += n
            rss.setdefault(entity, []).append(
                {
                    "filename": member,
                    "rss_metadata": {"published_parsed": f"2022-0{1 + f % 9}-15T12:00:00+00:00"},
                    "taxonomy_zip_name": "form-1-2022-01-01.zip",
                }
            )
        # one corrupt member (a truncated filing): skipped as a whole
        junk, _ = _filing(rng, catalog, lambda t: 2, p["density"], "C999999", _empty_expected(catalog))
        _put(zf, "C999999_form1_2021_corrupt.xbrl", junk[: len(junk) // 2])
        xml_bytes += len(junk) // 2
        _put(zf, "rssfeed", json.dumps(rss))
    os.makedirs(os.path.join(out_dir, "filings"), exist_ok=True)
    with open(os.path.join(out_dir, "filings", "form1_2021.zip"), "wb") as fh:
        fh.write(buf.getvalue())
    with open(os.path.join(out_dir, "catalog.json"), "w") as fh:
        json.dump(catalog, fh)
    return {
        "tables": len(catalog),
        "filings": p["filings"] + 1,
        "parse_failures": 1,
        "emitted_facts": emitted,
        "input_bytes": xml_bytes,
        "zip_bytes": len(buf.getvalue()),
        "expected": expected,
    }


# --------------------------------------------------------------------------
# Text corpus
# --------------------------------------------------------------------------

STOP = ["the", "a", "of", "and", "to", "in"]


def _words(rng: random.Random, n: int, prefix: str) -> list[str]:
    letters = "bcdfghjklmnpqrstvwxz"
    vowels = "aeiou"
    out = set()
    while len(out) < n:
        w = "".join(rng.choice(letters) + rng.choice(vowels) for _ in range(rng.randint(2, 4)))
        out.add(prefix + w)
    return sorted(out)


def _text(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(STOP) if rng.random() < 0.2 else rng.choice(vocab) for _ in range(n)]


def gen_curate_corpus(out_dir: str, seed: int) -> dict:
    """Documents carry a marker token ``id<doc_id>`` as their first token, so
    a document's identity survives packing into sequences. Exact duplicates
    copy another document's text verbatim (marker included, whitespace
    changed); near-duplicates get their own marker and a few changed tail
    tokens; contaminated documents embed a 12-token benchmark span; junk
    documents are too short to pass the quality filter."""
    p = CURATE
    rng = random.Random(f"curate_corpus:{seed}")
    vocab = _words(rng, 4000, "")
    bench_vocab = _words(rng, 800, "q")
    bench_texts = [" ".join(_text(rng, bench_vocab, 40)) for _ in range(p["bench_docs"])]
    strata = [f"src{i}" for i in range(p["strata"])]
    weights = [0.35, 0.25, 0.15, 0.12, 0.08, 0.05][: p["strata"]]

    ids, texts, sources = [], [], []
    kind = {}  # marker -> "unique" | "neardup:<root>" | "contaminated" | "junk"
    roots = []
    next_id = 0

    def add(text: str, source: str) -> int:
        nonlocal next_id
        ids.append(next_id)
        texts.append(text)
        sources.append(source)
        next_id += 1
        return next_id - 1

    # The mix of kinds and strata is drawn from a seed-independent stream, so
    # every seed has the same number of survivors per stratum.
    shape = random.Random("curate_corpus:shape")
    while next_id < p["docs"]:
        u = shape.random()
        src = shape.choices(strata, weights)[0]
        if u < 0.08 and roots:  # exact duplicate
            root_id, root_text = rng.choice(roots)
            add("  ".join(root_text.split(" ")), src)
        elif u < 0.16 and roots:  # near-duplicate
            root_id, root_text = rng.choice(roots)
            toks = root_text.split(" ")
            toks[0] = f"id{next_id}"
            for k in range(1, 3):
                toks[-k] = rng.choice(vocab)
            kind[f"id{next_id}"] = f"neardup:{root_id}"
            add(" ".join(toks), src)
        elif u < 0.20:  # contaminated
            bench = rng.choice(bench_texts).split(" ")
            start = rng.randint(0, len(bench) - 12)
            body = _text(rng, vocab, rng.randint(40, 100))
            cut = rng.randint(0, len(body))
            body[cut:cut] = bench[start : start + 12]
            kind[f"id{next_id}"] = "contaminated"
            add(" ".join([f"id{next_id}"] + body), src)
        elif u < 0.23:  # junk: below min_tokens
            kind[f"id{next_id}"] = "junk"
            add(" ".join([f"id{next_id}"] + _text(rng, vocab, 5)), src)
        else:
            marker = f"id{next_id}"
            text = " ".join([marker] + _text(rng, vocab, rng.randint(40, 100)))
            kind[marker] = "unique"
            roots.append((next_id, text))
            add(text, src)

    os.makedirs(out_dir, exist_ok=True)
    order = list(range(len(ids)))
    rng.shuffle(order)
    table = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": [texts[i] for i in order],
            "lang": ["en"] * len(ids),
            "source": [sources[i] for i in order],
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"), row_group_size=2000)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(bench_texts)), pa.int64()),
                "text": bench_texts,
            }
        ),
        os.path.join(out_dir, "benchmark.parquet"),
    )
    marker_source = {}
    for i, t in zip(ids, texts):
        marker_source.setdefault(t.split()[0], sources[i])
    return {
        "docs": len(ids),
        "input_bytes": sum(len(t) for t in texts),
        "input_ids": ids,
        "marker_kind": kind,
        "marker_source": marker_source,
        "params": {k: p[k] for k in ("sample_n", "pack_budget", "neardup_threshold")},
    }


GENERATORS = {
    "form1_wide": gen_form1_wide,
    "curate_corpus": gen_curate_corpus,
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Build the workload's inputs for ``seed`` once and reuse them from
    disk. The cache key includes a hash of this file, so a changed
    generator never reuses stale inputs; the directory is renamed into
    place only when complete."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    final = os.path.join(cache_root, f"{workload}-{seed}-{version}")
    manifest_path = os.path.join(final, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        manifest = GENERATORS[workload](tmp, seed)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, final)
    with open(manifest_path) as fh:
        return final, json.load(fh)
