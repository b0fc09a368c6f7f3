"""Seeded release generator for the benchmark.

:func:`write_release` writes an ACeDB release in the shape
``MigrationJob`` consumes: gzipped ``.ace`` dumps, a patch dump, an
annotated models file and an id catalog with one planted count mismatch.
It returns the expected outcome (datom and entity counts, patched
values, catalog counts) and the card-one datoms the ``store`` workload
seeds its versioned table with.

The output is a pure function of ``(seed, n_objects)``: the same seed
writes byte-identical files (gzip headers carry no mtime or name), so a
run can be repeated exactly and two commits see the same inputs.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os
import random
from dataclasses import dataclass, field

# class → [(attribute, models-file annotation)]; "UNIQUE" marks card-one
MODELS = {
    "Gene": [
        ("Identity", "UNIQUE Text"),
        ("Score", "UNIQUE Float"),
        ("Length", "UNIQUE Int"),
        ("Synonym", "Text"),
        ("Remark", "Text"),
    ],
    "Protein": [
        ("Peptide", "UNIQUE Text"),
        ("Mass", "UNIQUE Float"),
        ("Gene", "Text"),
    ],
    "Variation": [
        ("Public_name", "UNIQUE Text"),
        ("Position", "UNIQUE Int"),
        ("Allele", "Text"),
    ],
    "Paper": [
        ("Title", "UNIQUE Text"),
        ("Year", "UNIQUE Int"),
        ("Author", "Text"),
    ],
    "Homology_group": [
        ("Title", "UNIQUE Text"),
        ("Member", "Text"),
    ],
}
# share of objects per class
CLASS_WEIGHTS = {
    "Gene": 0.35,
    "Protein": 0.25,
    "Variation": 0.2,
    "Paper": 0.12,
    "Homology_group": 0.08,
}
HOMOL_CLASSES = ["Homology_group"]
RELEASE = "WS300"
N_DUMP_FILES = 8
PATCH_SHARE = 0.05

_BASE_T0 = dt.datetime(2010, 1, 1)
_PATCH_T0 = dt.datetime(2016, 1, 1)


def _ts(t0: dt.datetime, seconds: int) -> str:
    return (t0 + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%d_%H:%M:%S")


def _value(rng: random.Random, kind: str, tag: str) -> str:
    if kind == "Float":
        return f"{rng.randint(0, 99999) / 100:.2f}"
    if kind == "Int":
        return str(rng.randint(1, 10**6))
    return f"{tag.lower()}-{rng.randint(0, 10**9):x}"


def _gzip_bytes(text: str) -> bytes:
    buf = io.BytesIO()
    # mtime=0 and no file name: the same text gives the same bytes
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(text.encode())
    return buf.getvalue()


@dataclass
class Release:
    """Paths of one generated release and what a correct migration of it
    must produce."""

    root: str
    dumps: str
    patches: str
    models: str
    catalog: str
    n_objects: int
    n_datoms: int
    input_bytes: int
    entities: dict[str, int]  # class → distinct objects in the dumps
    catalog_counts: dict[str, int]  # class → expected count in the catalog
    mismatch_class: str
    # (class, obj_id, attribute) → value the patch dump sets
    patched: dict[tuple[str, str, str], str]
    # card-one datoms before patching: (eid, "Class/attr", value); eid is
    # a seeded 62-bit surrogate the store workload keys on
    card_one: list[tuple[int, str, str]] = field(repr=False)


def write_release(root: str, seed: int, n_objects: int) -> Release:
    """Write a release of ``n_objects`` objects under ``root``."""
    rng = random.Random(seed)
    os.makedirs(os.path.join(root, "dumps"), exist_ok=True)
    os.makedirs(os.path.join(root, "patches"), exist_ok=True)

    blocks: list[list[str]] = [[] for _ in range(N_DUMP_FILES)]
    entities: dict[str, int] = {}
    card_one: list[tuple[int, str, str]] = []
    # per object: (class, obj_id, {card-one attribute: value kind})
    objects: list[tuple[str, str, dict[str, str]]] = []
    n_datoms = 0
    eids: set[int] = set()
    for cls, weight in CLASS_WEIGHTS.items():
        n = max(1, round(n_objects * weight))
        entities[cls] = n
        for i in range(n):
            obj_id = f"{cls[:3].upper()}{i:08d}"
            eid = rng.getrandbits(62)
            while eid in eids:
                eid = rng.getrandbits(62)
            eids.add(eid)
            lines = [f'{cls} : "{obj_id}"']
            ones: dict[str, str] = {}
            for n_attr, (attr, note) in enumerate(MODELS[cls]):
                kind = note.split()[-1]
                if "UNIQUE" in note:
                    # the first card-one attribute is always present
                    if n_attr and rng.random() < 0.1:
                        continue
                    values = [_value(rng, kind, attr)]
                    ones[attr] = kind
                    card_one.append((eid, f"{cls}/{attr}", values[0]))
                else:
                    values = sorted(
                        {_value(rng, kind, attr) for _ in range(rng.randint(0, 3))}
                    )
                for v in values:
                    tx = _ts(_BASE_T0, rng.randint(0, 5 * 365 * 86400))
                    lines.append(f'{attr} "{v}" -O "{tx}"')
                    n_datoms += 1
            objects.append((cls, obj_id, ones))
            blocks[rng.randrange(N_DUMP_FILES)].append("\n".join(lines))

    input_bytes = 0
    dumps = os.path.join(root, "dumps")
    for i, file_blocks in enumerate(blocks):
        data = _gzip_bytes("\n\n".join(file_blocks) + "\n")
        input_bytes += len(data)
        with open(os.path.join(dumps, f"dump_{i:02d}.ace.gz"), "wb") as fh:
            fh.write(data)

    # patch dump: a card-one value of ~5% of the objects, stamped later
    # than every base datom so last-write-wins must pick it
    patched: dict[tuple[str, str, str], str] = {}
    patch_blocks = []
    for cls, obj_id, ones in rng.sample(objects, max(1, int(len(objects) * PATCH_SHARE))):
        attr = rng.choice(sorted(ones))
        value = f"patched-{rng.getrandbits(32):x}"
        if ones[attr] == "Float":
            value = f"{rng.randint(100000, 199999) / 100:.2f}"
        elif ones[attr] == "Int":
            value = str(rng.randint(2 * 10**6, 3 * 10**6))
        patched[(cls, obj_id, attr)] = value
        tx = _ts(_PATCH_T0, rng.randint(0, 86400))
        patch_blocks.append(f'{cls} : "{obj_id}"\n{attr} "{value}" -O "{tx}"')
    patches = os.path.join(root, "patches")
    with open(os.path.join(patches, "patch_00.ace"), "w") as fh:
        fh.write("\n\n".join(patch_blocks) + "\n")

    models = os.path.join(root, f"models.wrm.{RELEASE}")
    with open(models, "w") as fh:
        for cls, attrs in MODELS.items():
            fh.write(f"?{cls}\n")
            for attr, note in attrs:
                fh.write(f"  {attr} {note}\n")

    mismatch_class = rng.choice(sorted(entities))
    catalog_counts = dict(entities)
    catalog_counts[mismatch_class] += rng.randint(1, 9)
    catalog = os.path.join(root, f"all_classes_report.{RELEASE}.txt.gz")
    with open(catalog, "wb") as fh:
        fh.write(
            _gzip_bytes(
                "".join(f"{c} {n}\n" for c, n in sorted(catalog_counts.items()))
            )
        )

    return Release(
        root=root,
        dumps=dumps,
        patches=patches,
        models=models,
        catalog=catalog,
        n_objects=len(objects),
        n_datoms=n_datoms,
        input_bytes=input_bytes,
        entities=entities,
        catalog_counts=catalog_counts,
        mismatch_class=mismatch_class,
        patched=patched,
        card_one=card_one,
    )
