"""Seeded ORD reaction corpus (FIXTURES.md A.2) with ground truth.

One corpus is written in the two shapes the pipeline reads:

* ``raw/part-*.jsonl``: raw scrape records, one per line,
  ``{"dataset_id", "success", "data"}`` where ``data`` is the raw
  reaction JSON string ``format_reactions`` parses (integer enum
  codes, ``*List`` field names, heterogeneous ``inputsMap`` pairs).
  A planted 0.1% (at least two) of extra records carry truncated,
  unparseable data, cut at fixed places: alternately inside the first
  ``inputsMap`` pair object and inside ``outcomesList``.
* ``probe.jsonl``: one more truncated scrape, kept out of ``raw/``: cut
  right after the first ``"componentsList": ``, the one place where
  ``format_reactions`` keeps the ``reactionId`` of corrupt data (a
  known program defect; perfbench/README.md).
* ``docs/part-*.json``: the formatted document store
  ``read_ord_documents`` reads, one ``map<dataset_id, dataset>`` JSON
  object per file.

Every enum domain appears (plus out-of-domain codes that decode to
``UNKNOWN``), amounts are oneof moles/volume/mass/none, and products
carry measurements. Dataset sizes are Zipf-distributed, with one hot
dataset holding about 10% of the reactions, about 2% empty datasets
and 5% unsuccessful reactions. ``truth.json`` holds the counts the
pipeline must reproduce.

Reactions are assembled from pools of pre-rendered component and
product fragments, so 20,000 reactions take about 4 s to generate.
"""

from __future__ import annotations

import json
import os

import numpy as np

IDENT_TYPES = ["UNSPECIFIED", "CUSTOM", "SMILES", "INCHI", "MOLBLOCK",
               "FINGERPRINT", "NAME", "IUPAC_NAME", "CAS_NUMBER"]
ROLES = ["UNSPECIFIED", "REACTANT", "REAGENT", "SOLVENT", "CATALYST",
         "WORKUP", "INTERNAL_STANDARD", "AUTHENTIC_STANDARD", "PRODUCT",
         "BYPRODUCT", "SIDE_PRODUCT"]
UNITS = {"moles": ["UNSPECIFIED", "MOLE", "MILLIMOLE", "MICROMOLE",
                   "NANOMOLE"],
         "volume": ["UNSPECIFIED", "LITER", "MILLILITER", "MICROLITER",
                    "NANOLITER"],
         "mass": ["UNSPECIFIED", "KILOGRAM", "GRAM", "MILLIGRAM",
                  "MICROGRAM"]}
TAB_NAMES = ["Reactant 1", "Reactant 2", "Solvent", "Catalyst", "Base",
             "Reagent", "Workup", "m1_m2", "m3", "Additive"]
# One code past each domain: it must decode to UNKNOWN.
UNKNOWN_CODE = 42
SMILES_ATOMS = ["C", "N", "O", "c1ccccc1", "Cl", "Br", "F", "S", "C(=O)",
                "[Pd]", "CC", "O=C"]

HOT_SHARE = 0.10
EMPTY_SHARE = 0.02
FAIL_SHARE = 0.05
CORRUPT_SHARE = 0.001
N_POOL = 1024
N_FILES = 16  # more files than cores
# Where planted truncations cut a scrape's data: right after the first
# of these markers, taken in turn.
CUT_AFTER = ['"componentsList": [', '"outcomesList": [']
# Where the defect probe cuts: one character before the first cut
# above, where the formatter keeps the reactionId.
PROBE_CUT_AFTER = '"componentsList": '


def _code(rng: np.random.Generator, n_domain: int, p=None) -> int:
    """A code in the domain, or (1%) one outside it."""
    if rng.random() < 0.01:
        return UNKNOWN_CODE
    return int(rng.choice(n_domain, p=p))


def _decode(code: int, domain: list[str]) -> str:
    return domain[code] if 0 <= code < len(domain) else "UNKNOWN"


def _identifiers(rng: np.random.Generator) -> tuple[list, list]:
    n = int(rng.choice(4, p=[0.02, 0.70, 0.18, 0.10]))
    # SMILES dominates, as in the golden corpus; every type appears.
    p = np.full(len(IDENT_TYPES), 0.02)
    p[2], p[6], p[3] = 0.70, 0.12, 0.06
    raw, fmt = [], []
    for _ in range(n):
        code = _code(rng, len(IDENT_TYPES), p / p.sum())
        k = int(rng.integers(2, 8))
        value = "".join(rng.choice(SMILES_ATOMS, k))
        raw.append({"type": code, "value": value})
        fmt.append({"type": _decode(code, IDENT_TYPES), "value": value})
    return raw, fmt


def _component(rng: np.random.Generator) -> tuple[str, str, int]:
    ids_raw, ids_fmt = _identifiers(rng)
    kind = rng.choice(["moles", "volume", "mass", "none"],
                      p=[0.40, 0.35, 0.15, 0.10])
    amount_raw, amount_fmt = {}, {}
    if kind != "none":
        unit = _code(rng, 5)
        value = round(float(rng.lognormal(0.0, 2.0)), 4)
        amount_raw = {kind: {"value": value, "units": unit}}
        amount_fmt = {kind: {"value": value,
                             "units": _decode(unit, UNITS[kind])}}
    role = _code(rng, len(ROLES))
    raw = {"identifiersList": ids_raw, "amount": amount_raw,
           "reactionRole": role}
    fmt = {"identifiers": ids_fmt, "amount": amount_fmt,
           "reaction_role": _decode(role, ROLES)}
    return json.dumps(raw), json.dumps(fmt), max(1, len(ids_raw))


def _product(rng: np.random.Generator) -> tuple[str, str, int]:
    ids_raw, ids_fmt = _identifiers(rng)
    desired = bool(rng.random() < 0.7)
    meas_raw, meas_fmt = [], []
    if rng.random() < 0.3:
        unit = _code(rng, 5)
        value = round(float(rng.uniform(1, 1000)), 2)
        details = str(rng.choice(["isolated", "crude", "HPLC", ""]))
        meas_raw.append({"type": int(rng.integers(0, 12)),
                         "details": details,
                         "amount": {"mass": {"value": value, "units": unit}}})
        meas_fmt.append({"type": meas_raw[0]["type"], "details": details,
                         "mass": {"value": value,
                                  "units": _decode(unit, UNITS["mass"])}})
    raw = {"identifiersList": ids_raw, "isDesiredProduct": desired,
           "measurementsList": meas_raw}
    fmt = {"identifiers": ids_fmt, "reaction_role": "PRODUCT",
           "is_desired_product": desired, "measurements": meas_fmt}
    return json.dumps(raw), json.dumps(fmt), max(1, len(ids_raw))


def _dataset_sizes(rng: np.random.Generator, n_reactions: int,
                   n_datasets: int) -> np.ndarray:
    """Zipf-shaped sizes summing to n_reactions: dataset 0 is the hot
    one (HOT_SHARE of all reactions), EMPTY_SHARE of the rest hold
    none."""
    n_empty = max(1, int(round(EMPTY_SHARE * n_datasets)))
    n_rest = n_datasets - 1 - n_empty
    hot = int(round(HOT_SHARE * n_reactions))
    weights = 1.0 / np.arange(1, n_rest + 1) ** 0.8
    rng.shuffle(weights)
    rest = n_reactions - hot - n_rest  # every non-empty dataset has >= 1
    sizes = 1 + np.floor(weights / weights.sum() * rest).astype(np.int64)
    sizes[: rest - int(sizes.sum() - n_rest)] += 1
    out = np.concatenate([[hot], sizes, np.zeros(n_empty, np.int64)])
    rng.shuffle(out[1:])
    return out


def _hex_ids(rng: np.random.Generator, prefix: str, n: int) -> list[str]:
    raw = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    return [prefix + row.tobytes().hex() for row in raw]


def write_corpus(out_dir: str, seed: int, n_reactions: int) -> dict:
    """Write raw/, docs/ and truth.json under ``out_dir``; return the
    truth dict."""
    rng = np.random.default_rng(seed)
    comps = [_component(rng) for _ in range(N_POOL)]
    prods = [_product(rng) for _ in range(N_POOL)]
    n_datasets = max(10, n_reactions // 20)
    sizes = _dataset_sizes(rng, n_reactions, n_datasets)
    ds_ids = _hex_ids(rng, "ord_dataset-", n_datasets)
    rx_ids = _hex_ids(rng, "ord-", n_reactions)

    raw_lines: list[list[str]] = [[] for _ in range(N_FILES)]
    doc_parts: list[list[str]] = [[] for _ in range(N_FILES)]
    truth = {"n_reactions": n_reactions, "n_datasets": n_datasets,
             "datasets": {}, "component_rows": 0, "outcome_rows": 0}
    succeeded = []  # (file, dataset id, raw data) of successful scrapes
    r = 0
    for d, (ds, size) in enumerate(zip(ds_ids, sizes)):
        f = d % N_FILES
        fmt_rx, n_ok = [], 0
        for _ in range(int(size)):
            rid = rx_ids[r]
            r += 1
            ok = bool(rng.random() >= FAIL_SHARE)
            if not ok:
                raw = json.dumps({"reactionId": rid})
                fmt_rx.append(json.dumps({
                    "reaction_id": rid, "success": False,
                    "inputsMap": [], "outcomes": []}))
            else:
                n_ok += 1
                raw, fmt = _reaction(rng, rid, comps, prods, truth)
                fmt_rx.append(fmt)
                succeeded.append((f, ds, raw))
            raw_lines[f].append(json.dumps(
                {"dataset_id": ds, "success": ok, "data": raw}))
        truth["datasets"][ds] = [int(size), n_ok]
        doc_parts[f].append(
            f'{json.dumps(ds)}: {{"dataset_id": {json.dumps(ds)}, '
            f'"total_reactions_scraped": {int(size)}, '
            f'"reactions": [{", ".join(fmt_rx)}]}}')

    # Planted corrupt scrapes: a successful record's data cut off, as a
    # scrape interrupted mid-response leaves it. The cut places are
    # fixed, so every seed plants the same kinds of damage.
    n_corrupt = max(len(CUT_AFTER), int(round(CORRUPT_SHARE * n_reactions)))
    for i in range(n_corrupt):
        f, ds, data = succeeded[int(rng.integers(0, len(succeeded)))]
        marker = CUT_AFTER[i % len(CUT_AFTER)]
        raw_lines[f].append(json.dumps(
            {"dataset_id": ds, "success": True,
             "data": data[: data.index(marker) + len(marker)]}))
    truth["n_corrupt"] = n_corrupt
    truth["n_raw_records"] = n_reactions + n_corrupt
    _, ds, data = succeeded[int(rng.integers(0, len(succeeded)))]
    probe = json.dumps({"dataset_id": ds, "success": True, "data": data[
        : data.index(PROBE_CUT_AFTER) + len(PROBE_CUT_AFTER)]})

    for sub in ("raw", "docs"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    for f in range(N_FILES):
        with open(os.path.join(out_dir, "raw", f"part-{f:03d}.jsonl"),
                  "w", encoding="utf-8") as fh:
            fh.write("\n".join(raw_lines[f]) + "\n")
        with open(os.path.join(out_dir, "docs", f"part-{f:03d}.json"),
                  "w", encoding="utf-8") as fh:
            fh.write("{" + ", ".join(doc_parts[f]) + "}")
    with open(os.path.join(out_dir, "probe.jsonl"), "w",
              encoding="utf-8") as fh:
        fh.write(probe + "\n")
    with open(os.path.join(out_dir, "truth.json"), "w",
              encoding="utf-8") as fh:
        json.dump(truth, fh)
    return truth


def _reaction(rng: np.random.Generator, rid: str, comps: list, prods: list,
              truth: dict) -> tuple[str, str]:
    """One successful reaction as (raw JSON, formatted JSON); adds its
    flattened row counts to ``truth``."""
    n_tabs = int(rng.integers(1, 4))
    tabs = rng.choice(len(TAB_NAMES), n_tabs, replace=False)
    raw_pairs, fmt_pairs = [], []
    for t in tabs:
        picks = rng.integers(0, N_POOL, int(rng.integers(1, 5)))
        name = json.dumps(TAB_NAMES[t])
        raw_pairs.append(f'[{name}, {{"componentsList": ['
                         + ", ".join(comps[i][0] for i in picks) + "]}]")
        fmt_pairs.append(f'[{name}, {{"components": ['
                         + ", ".join(comps[i][1] for i in picks) + "]}]")
        truth["component_rows"] += sum(comps[i][2] for i in picks)
    n_prod = [int(rng.integers(1, 3)) for _ in range(int(rng.choice(
        3, p=[0.1, 0.8, 0.1])))]
    raw_outcomes, fmt_products = [], []
    for k in n_prod:
        picks = rng.integers(0, N_POOL, k)
        raw_outcomes.append('{"productsList": ['
                            + ", ".join(prods[i][0] for i in picks) + "]}")
        fmt_products += [prods[i][1] for i in picks]
        truth["outcome_rows"] += sum(prods[i][2] for i in picks)
    rid_j = json.dumps(rid)
    raw = (f'{{"reactionId": {rid_j}, "inputsMap": [{", ".join(raw_pairs)}], '
           f'"outcomesList": [{", ".join(raw_outcomes)}]}}')
    fmt = (f'{{"reaction_id": {rid_j}, "success": true, '
           f'"inputsMap": [{", ".join(fmt_pairs)}], '
           f'"outcomes": [{", ".join(fmt_products)}]}}')
    return raw, fmt

