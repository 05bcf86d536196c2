"""Seeded input generators. The same seed gives byte-identical files; the
package under test only ever sees the files.

- EHR-shaped records (FIXTURES.md §1) with a stated share of null or empty
  scoped fields, for ``run_config`` and ``PipelineService``;
- micro-batch JSONL files with a stated share of records that repeat an
  earlier record's scoped fields, for the cached streaming stage;
- a corpus directory (``documents.parquet`` + ``embeddings.parquet``) built by
  ``tools/gen_scale_decade.py``'s own generators. Those draw their word, length
  and language laws from a source ``documents.parquet``; here that source is
  a seeded sample written next to the corpus, so nothing outside the run
  directory is read.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random

#: The scoped record fields; each is independently null or empty with the
#: stated share.
SCOPED_FIELDS = ("encounters", "labs", "medications", "allergies", "notes")

#: 4 map instructions over record fields + 1 reduce over their outputs.
PIPE = [
    [
        {
            "name": "encounter_summary",
            "scope": ["encounters"],
            "role": "clinical summarizer",
            "content": "Summarize the patient's encounters in three bullet points.",
            "output_fmt": "markdown",
        },
        {
            "name": "lab_review",
            "scope": ["labs"],
            "role": "laboratory physician",
            "content": "Flag abnormal lab results and their dates.",
        },
        {
            "name": "medication_reconciliation",
            "scope": ["medications", "allergies"],
            "role": "clinical pharmacist",
            "content": "List active medications and any allergy conflicts.",
        },
        {
            "name": "note_digest",
            "scope": ["notes"],
            "content": "Condense the clinical notes into an assessment and plan.",
        },
    ],
    [
        {
            "name": "patient_summary",
            "scope": ["encounter_summary", "lab_review", "medication_reconciliation", "note_digest"],
            "role": "attending physician",
            "content": "Merge the sections into one discharge summary.",
            "output_fmt": "markdown",
        }
    ],
]

_FIRST = ("Ana", "Ben", "Chen", "Dara", "Eli", "Fatma", "Goro", "Hana", "Ivan", "Jia")
_LAST = ("Ito", "Khan", "Lopez", "Moreau", "Nagy", "Okafor", "Park", "Quinn", "Rossi", "Silva")
_DIVISIONS = ("cardiology", "endocrinology", "nephrology", "oncology", "pulmonology")
_DIAGNOSES = ("hypertension", "type 2 diabetes", "CKD stage 3", "asthma", "atrial fibrillation")
_TESTS = ("HbA1c", "creatinine", "potassium", "LDL", "TSH", "hemoglobin")
_DRUGS = (("metformin", "A10BA02"), ("lisinopril", "C09AA03"), ("apixaban", "B01AF02"),
          ("atorvastatin", "C10AA05"), ("salbutamol", "R03AC02"))
_ALLERGENS = ("penicillin", "peanuts", "latex", "sulfa", "iodine")
_NOTE_TYPES = ("progress", "discharge", "consult")


def _date(r: random.Random) -> str:
    return f"2024-{r.randint(1, 12):02d}-{r.randint(1, 28):02d} {r.randint(0, 23):02d}:{r.randint(0, 59):02d}:00"


def _doctor(r: random.Random) -> str:
    return f"Dr. {r.choice(_LAST)}"


def _scoped(r: random.Random) -> dict:
    n = r.randint
    return {
        "encounters": [
            {
                "datetime": _date(r), "division": r.choice(_DIVISIONS), "doctor": _doctor(r),
                "subjective": f"reports {r.choice(('fatigue', 'dyspnea', 'chest pain', 'thirst'))} for {n(1, 30)} days",
                "objective": f"BP {n(100, 180)}/{n(60, 110)}, HR {n(50, 120)}",
                "plan": f"follow up in {n(1, 12)} weeks",
                "diagnosis": r.choice(_DIAGNOSES),
            }
            for _ in range(n(1, 3))
        ],
        "labs": [
            {"test_name": r.choice(_TESTS), "datetime": _date(r), "result": f"{r.uniform(0.5, 12):.1f}"}
            for _ in range(n(1, 4))
        ],
        "medications": [
            {"name": d, "code": c, "start_date": _date(r)[:10], "end_date": None,
             "dosage": f"{n(1, 4) * 5} mg daily"}
            for d, c in r.sample(_DRUGS, n(1, 3))
        ],
        "allergies": [
            {"allergen": a, "reaction": r.choice(("rash", "anaphylaxis", "hives")), "date_reported": _date(r)[:10]}
            for a in r.sample(_ALLERGENS, n(1, 2))
        ],
        "notes": [
            {
                "note_type": r.choice(_NOTE_TYPES), "datetime": _date(r), "physician": _doctor(r),
                "subjective": "stable overnight", "objective": f"afebrile, SpO2 {n(90, 99)}%",
                "assessment": r.choice(_DIAGNOSES), "plan": "continue current regimen",
            }
            for _ in range(n(1, 2))
        ],
    }


def _blank_some(r: random.Random, scoped: dict, null_share: float) -> dict:
    """Null or empty each scoped field with probability ``null_share`` (half
    JSON null, half an empty list)."""
    out = {}
    for k in SCOPED_FIELDS:
        u = r.random()
        out[k] = None if u < null_share / 2 else [] if u < null_share else scoped[k]
    return out


def ehr_record(r: random.Random, record_id: int, scoped: dict) -> dict:
    return {
        "record_id": record_id,
        "patient": {
            "name": f"{r.choice(_FIRST)} {r.choice(_LAST)}",
            "age": r.randint(18, 95),
            "gender": r.choice(("F", "M")),
            "contact": {"phone": f"555-{r.randint(1000, 9999)}",
                        "email": f"p{record_id}@example.org", "address": f"{r.randint(1, 999)} Main St"},
        },
        **scoped,
    }


def ehr_records(seed: int, n: int, null_share: float) -> list[dict]:
    r = random.Random(seed)
    return [ehr_record(r, i, _blank_some(r, _scoped(r), null_share)) for i in range(n)]


def stream_batches(
    seed: int, n_files: int, per_file: int, null_share: float, repeat_share: float
) -> list[list[dict]]:
    """``n_files`` micro-batches of ``per_file`` records. After the first
    record, a record repeats the scoped fields of a uniformly chosen earlier
    record with probability ``repeat_share`` (same prompts, new record id)."""
    r = random.Random(seed)
    seen: list[dict] = []
    batches = []
    for f in range(n_files):
        batch = []
        for j in range(per_file):
            if seen and r.random() < repeat_share:
                scoped = r.choice(seen)
            else:
                scoped = _blank_some(r, _scoped(r), null_share)
                seen.append(scoped)
            batch.append(ehr_record(r, f * per_file + j, scoped))
        batches.append(batch)
    return batches


def write_jsonl(path: str, records: list[dict]) -> None:
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")


# -- corpus -------------------------------------------------------------------

#: The source laws gen_scale_decade reads from its source table: the 31-word
#: vocabulary, 10-99 words per document, and the language marginals.
_SOURCE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_SOURCE_LANGS = (("de", 0.14), ("en", 0.41), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))


def _load_gen_scale_decade(repo_root: str):
    path = os.path.join(repo_root, "tools", "gen_scale_decade.py")
    spec = importlib.util.spec_from_file_location("gen_scale_decade", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def corpus_dir(seed: int, root: str, n_docs: int, n_vecs: int, repo_root: str) -> str:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into
    ``root/corpus`` with ``gen_scale_decade.gen_documents`` / ``gen_embeddings``
    and return that directory. The source sample goes to a sibling directory:
    a file under the corpus directory would join the file-stream scans."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    gsd = _load_gen_scale_decade(repo_root)
    out_dir = os.path.join(root, "corpus")
    src_dir = os.path.join(root, "corpus_source")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(src_dir, exist_ok=True)
    r = random.Random(seed)
    n_src = 500
    langs, weights = zip(*_SOURCE_LANGS)
    src = pa.table(
        {
            "doc_id": pa.array(range(n_src), type=pa.int64()),
            "text": [" ".join(r.choices(_SOURCE_WORDS, k=r.randint(10, 99))) for _ in range(n_src)],
            "lang": r.choices(langs, weights=weights, k=n_src),
        }
    )
    pq.write_table(src, os.path.join(src_dir, "documents.parquet"))
    gsd.SRC = src_dir
    rng = np.random.RandomState(seed)
    pq.write_table(gsd.gen_documents(rng, n_docs, vocab=len(_SOURCE_WORDS) * 3),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(gsd.gen_embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
