"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The engine never sees the seed, only the files.

- ``crystal_records`` / ``write_crystal_sources``: the three upstream crystal
  formats the loaders read (Alexandria entries JSON.bz2, a Materials Project
  summary-docs JSON dump, one MC3D CIF per structure), with 1-16 sites, 18
  elements, all seven crystal systems and a mix of metals and gapped
  materials.
- ``write_llm_tables``: the ``documents`` and ``embeddings`` tables the LLM
  curation operators read, shaped like the repository's fixture tables
  (same 30-word vocabulary, language-marker words, ``src<k>`` sources,
  unit-norm 64-d float vectors with ten labels), plus exact and near
  duplicates so the dedup operators find pairs.
"""

from __future__ import annotations

import bz2
import json
import math
import os
import random

ELEMENTS = [
    "H", "Li", "C", "N", "O", "Na", "Mg", "Al", "Si",
    "P", "S", "Cl", "K", "Ca", "Ti", "Fe", "Cu", "Zn",
]
CRYSTAL_SYSTEMS = [
    "cubic", "tetragonal", "orthorhombic", "hexagonal",
    "trigonal", "monoclinic", "triclinic",
]
SOURCES = ("alex", "mp", "mc3d")
MAX_SITES = 16


def _angles(rng: random.Random, system: str) -> tuple[float, float, float]:
    if system in ("cubic", "tetragonal", "orthorhombic"):
        return 90.0, 90.0, 90.0
    if system in ("hexagonal", "trigonal"):
        return 90.0, 90.0, 120.0
    if system == "monoclinic":
        return 90.0, round(rng.uniform(95.0, 115.0), 2), 90.0
    return tuple(round(rng.uniform(70.0, 110.0), 2) for _ in range(3))


def _lengths(rng: random.Random, system: str) -> tuple[float, float, float]:
    a = round(rng.uniform(3.0, 12.0), 4)
    if system == "cubic":
        return a, a, a
    c = round(rng.uniform(3.0, 12.0), 4)
    if system in ("tetragonal", "hexagonal", "trigonal"):
        return a, a, c
    return a, round(rng.uniform(3.0, 12.0), 4), c


def lattice_matrix(a, b, c, alpha, beta, gamma) -> list[list[float]]:
    """Row vectors of the cell: a along x, b in the xy plane."""
    ca, cb, cg = (math.cos(math.radians(t)) for t in (alpha, beta, gamma))
    sg = math.sin(math.radians(gamma))
    cx = c * cb
    cy = c * (ca - cb * cg) / sg
    cz = math.sqrt(max(c * c - cx * cx - cy * cy, 1e-12))
    return [[a, 0.0, 0.0], [b * cg, b * sg, 0.0], [cx, cy, cz]]


def _structure(rng: random.Random) -> dict:
    system = rng.choice(CRYSTAL_SYSTEMS)
    a, b, c = _lengths(rng, system)
    alpha, beta, gamma = _angles(rng, system)
    matrix = lattice_matrix(a, b, c, alpha, beta, gamma)
    n_sites = rng.randint(1, MAX_SITES)
    sites = []
    for _ in range(n_sites):
        el = rng.choice(ELEMENTS)
        frac = [round(rng.random(), 4) for _ in range(3)]
        xyz = [round(sum(frac[k] * matrix[k][j] for k in range(3)), 6) for j in range(3)]
        sites.append(
            {
                "species": [{"element": el, "occu": 1}],
                "abc": frac,
                "xyz": xyz,
                "properties": {"magmom": round(rng.uniform(-2.0, 2.0), 3), "charge": 0.0,
                               "forces": [0.0, 0.0, 0.0]},
                "label": el,
            }
        )
    volume = abs(
        matrix[0][0] * (matrix[1][1] * matrix[2][2] - matrix[1][2] * matrix[2][1])
        - matrix[0][1] * (matrix[1][0] * matrix[2][2] - matrix[1][2] * matrix[2][0])
        + matrix[0][2] * (matrix[1][0] * matrix[2][1] - matrix[1][1] * matrix[2][0])
    )
    lattice = {
        "matrix": [[round(x, 6) for x in row] for row in matrix],
        "a": a, "b": b, "c": c, "alpha": alpha, "beta": beta, "gamma": gamma,
        "volume": round(volume, 6), "pbc": [True, True, True],
    }
    return {
        "system": system,
        "cell": (a, b, c, alpha, beta, gamma),
        "structure": {
            "@module": "pymatgen.core.structure",
            "@class": "Structure",
            "lattice": lattice,
            "sites": sites,
            "charge": 0.0,
        },
    }


def _band_gap(rng: random.Random) -> float:
    # about a third metallic (gap exactly 0), the rest spread over 0.05-6 eV
    return 0.0 if rng.random() < 0.35 else round(rng.uniform(0.05, 6.0), 4)


def crystal_records(seed: int, n_per_source: int) -> dict[str, list[dict]]:
    """Per source, the generated records: ``source_id``, ``elements`` (one
    per site), ``band_gap`` / ``e_above_hull`` (None where the source has no
    such field) and the raw ``doc`` each upstream format serialises."""
    rng = random.Random(seed)
    out: dict[str, list[dict]] = {s: [] for s in SOURCES}
    for src in SOURCES:
        for i in range(n_per_source):
            st = _structure(rng)
            elements = [s["species"][0]["element"] for s in st["structure"]["sites"]]
            rec = {"source_id": f"{src}-{seed}-{i}", "elements": elements,
                   "band_gap": None, "e_above_hull": None}
            if src == "alex":
                gap = _band_gap(rng)
                rec["e_above_hull"] = round(rng.expovariate(10.0), 4)
                rec["doc"] = {
                    "data": {
                        "mat_id": rec["source_id"],
                        "band_gap_ind": gap,
                        "band_gap_dir": round(gap * 1.1, 4),
                        "dos_ef": round(rng.uniform(-3.0, 3.0), 4),
                        "energy_total": round(rng.uniform(-80.0, -5.0), 4),
                        "energy_corrected": round(rng.uniform(-80.0, -5.0), 4),
                        "e_form": round(rng.uniform(-3.0, 0.5), 4),
                        "e_above_hull": rec["e_above_hull"],
                        "e_phase_separation": round(rng.uniform(-0.5, 0.5), 4),
                        "total_mag": round(rng.uniform(0.0, 5.0), 4),
                    },
                    "structure": st["structure"],
                }
            elif src == "mp":
                rec["band_gap"] = _band_gap(rng)
                rec["e_above_hull"] = round(rng.expovariate(10.0), 4)
                rec["doc"] = {
                    "material_id": rec["source_id"],
                    "band_gap": rec["band_gap"],
                    "total_energy": round(rng.uniform(-80.0, -5.0), 4),
                    "uncorrected_energy": round(rng.uniform(-80.0, -5.0), 4),
                    "formation_energy_per_atom": round(rng.uniform(-3.0, 0.5), 4),
                    "e_above_hull": rec["e_above_hull"],
                    "total_magnetization": round(rng.uniform(0.0, 5.0), 4),
                    "magnetic_ordering": rng.choice(["FM", "AFM", "NM", "FiM"]),
                    "is_gap_direct": rng.random() < 0.5,
                    "is_stable": rec["e_above_hull"] == 0.0 or rng.random() < 0.2,
                    "symmetry": {
                        "crystal_system": st["system"],
                        "symbol": "P1",
                        "number": rng.randint(1, 230),
                        "point_group": "1",
                        "symprec": 0.1,
                        "angle_tolerance": 5.0,
                        "version": "2.0.1",
                    },
                    "has_props": {"materials": True, "thermo": rng.random() < 0.5,
                                  "magnetism": rng.random() < 0.3},
                    "structure": st["structure"],
                }
            else:
                a, b, c, alpha, beta, gamma = st["cell"]
                rows = "".join(
                    f"{s['species'][0]['element']} {s['abc'][0]:.4f} {s['abc'][1]:.4f} {s['abc'][2]:.4f}\n"
                    for s in st["structure"]["sites"]
                )
                rec["doc"] = (
                    f"data_{rec['source_id']}\n"
                    f"_cell_length_a {a:.4f}\n_cell_length_b {b:.4f}\n_cell_length_c {c:.4f}\n"
                    f"_cell_angle_alpha {alpha:.2f}\n_cell_angle_beta {beta:.2f}\n"
                    f"_cell_angle_gamma {gamma:.2f}\n"
                    "loop_\n_atom_site_type_symbol\n_atom_site_fract_x\n"
                    "_atom_site_fract_y\n_atom_site_fract_z\n" + rows
                )
            out[src].append(rec)
    return out


# loader (source_database, source_dataset) keys and their raw sub-directories
LOADER_KEYS = {
    "alex": ("alex", "3d"),
    "mp": ("materials_project", "summary"),
    "mc3d": ("materialscloud", "mc3d"),
}


def write_crystal_sources(data_dir: str, records: dict[str, list[dict]], n_files: int = 4) -> None:
    """Write ``records`` in each upstream format under the loaders' raw dirs
    (``<data_dir>/<source_database>/<source_dataset>/raw``)."""
    raw = {k: os.path.join(data_dir, *LOADER_KEYS[k], "raw") for k in SOURCES}
    for d in raw.values():
        os.makedirs(d, exist_ok=True)
    for f in range(n_files):
        entries = [r["doc"] for r in records["alex"][f::n_files]]
        with bz2.open(os.path.join(raw["alex"], f"alexandria_{f:03d}.json.bz2"), "wt") as fh:
            json.dump({"entries": entries}, fh)
        with open(os.path.join(raw["mp"], f"summary_docs_{f:03d}.json"), "w") as fh:
            json.dump([r["doc"] for r in records["mp"][f::n_files]], fh)
    for r in records["mc3d"]:
        with open(os.path.join(raw["mc3d"], f"{r['source_id']}.cif"), "w") as fh:
            fh.write(r["doc"])


# ----------------------------------------------------------------- LLM tables

VOCAB = [
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window",
]
# marker words per language, as the language-id operator scores them
LANG_WORDS = {
    "en": ["the", "a", "fast", "slow"],
    "de": ["data", "hash", "merge", "window"],
    "es": ["row", "query", "scan", "table"],
    "fr": ["key", "value", "sort", "filter"],
    "zh": ["spark", "batch", "stream", "agg"],
}
LANGS = ["en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64
EMB_LABELS = 10


def documents(seed: int, n: int) -> list[tuple[int, str, str, str, int]]:
    """``(doc_id, text, lang, source, n_chars)`` rows. About 3% are exact
    copies of an earlier document and 6% are one-word edits of one."""
    rng = random.Random(seed * 7919 + 1)
    texts: list[str] = []
    rows = []
    for i in range(n):
        lang = rng.choice(LANGS)
        roll = rng.random()
        if texts and roll < 0.03:
            text = rng.choice(texts)
        elif texts and roll < 0.09:
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            n_words = rng.randint(8, 90)
            text = " ".join(
                rng.choice(LANG_WORDS[lang]) if rng.random() < 0.3 else rng.choice(VOCAB)
                for _ in range(n_words)
            )
        texts.append(text)
        rows.append((i, text, lang, f"src{i % 20}", len(text)))
    return rows


def embeddings(seed: int, n: int):
    """``(vec_id, embedding float32[64] of unit norm, label)``: ten label
    centroids plus Gaussian noise, so nearest neighbours share labels."""
    import numpy as np

    rng = np.random.default_rng(seed * 104729 + 2)
    centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, size=n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return np.arange(n, dtype=np.int64), vecs.astype(np.float32), labels.astype(np.int32)


def write_llm_tables(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into ``sf_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    doc_id, text, lang, source, n_chars = zip(*documents(seed, n_docs))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )
    vec_id, vecs, labels = embeddings(seed, n_vecs)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(vec_id),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
