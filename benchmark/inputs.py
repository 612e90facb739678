"""Seeded inputs. The package only ever sees what these write to disk.

- The transcript table comes from the package's own generator,
  ``transcripts(seed=…)``, with its hot conversations and the four
  corruption classes, staged once to parquet.
- The JSON turns are written here in plain Python from ``random.Random(seed)``,
  so the generator knows exactly how many documents it broke and how many
  field values it made illegal: that count is the parse oracle.
- The ``documents`` and ``embeddings`` tables the curation operators read
  are written here too, in the sf0.1 tables' schema, with planted exact and
  near duplicates so that dedup and pruning have work to do.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

CORRUPTIONS = frozenset({"role_invalid", "dangling_tool", "dup_key", "ts_regression"})

# JSON Schema of one transcript turn; ``json_schema.infer_read_schema``
# turns it into the read type the parse workload resolves against.
TURN_SCHEMA = {
    "$schema": "http://json-schema.org/draft-07/schema#",
    "title": "Turn",
    "type": "object",
    "required": ["conv_id", "turn_idx", "role"],
    "properties": {
        "conv_id": {"type": "string"},
        "turn_idx": {"type": "integer", "minimum": 0, "maximum": 2147483647},
        "role": {
            "title": "Role",
            "type": "string",
            "enum": ["system", "user", "assistant", "tool"],
        },
        "text": {"type": "string"},
        "tool": {"type": ["string", "null"]},
        "ts": {"type": "string", "format": "date-time"},
    },
}

# Share of documents given each defect; a document gets at most one.
JSON_DEFECTS = (
    ("broken_json", 0.010),
    ("role", 0.020),  # symbol outside the enum
    ("ts", 0.015),  # not a date-time
    ("turn_idx", 0.005),  # beyond the int range the schema elects
)
_BAD_TS = ("not-a-timestamp", "2024-13-45T99:00:00Z")
_WORDS = (
    "the quick brown fox jumps over lazy dog spark shuffle partition schema "
    "resolve decimal enum default alias turn conversation agent tool call"
).split()
_TOOLS = ("search", "calculator", "code_exec", "browser", "retrieval")
_ROLES = ("user", "assistant", "tool")


def stage_transcripts(spark, path: str, n_convs: int, seed: int) -> None:
    """Write ``transcripts(n_convs, seed)`` with all four corruption
    classes to parquet at ``path``."""
    from avro_conversions_spark.transcripts import transcripts

    transcripts(
        spark, n_convs=n_convs, turns_per_conv=10, seed=seed, corruptions=CORRUPTIONS
    ).write.mode("overwrite").parquet(path)


@dataclass
class JsonExpected:
    """What a correct parse of the generated documents must report."""

    docs: int = 0
    corrupt: int = 0
    violations: dict[str, int] = field(default_factory=dict)


def write_json_turns(path: str, n_docs: int, seed: int, n_files: int = 8) -> JsonExpected:
    """Newline-delimited JSON transcript turns in ``n_files`` files."""
    rng = random.Random(seed)
    exp = JsonExpected(docs=n_docs, violations={"role": 0, "ts": 0, "turn_idx": 0})
    os.makedirs(path, exist_ok=True)
    per_file = -(-n_docs // n_files)
    conv, turn, conv_len, epoch = 0, 0, 0, 1_700_000_000
    for part in range(n_files):
        lines = []
        for _ in range(min(per_file, n_docs - part * per_file)):
            if turn >= conv_len:
                conv, turn, conv_len = conv + 1, 0, 3 + int(rng.random() * 14)
            role = "system" if turn == 0 else _ROLES[int(rng.random() * 3)]
            doc = {
                "conv_id": f"conv-{seed % 1000:03d}-{conv:07d}",
                "turn_idx": turn,
                "role": role,
                "text": " ".join(rng.choices(_WORDS, k=4 + int(rng.random() * 9))),
                "tool": _TOOLS[int(rng.random() * len(_TOOLS))] if role == "tool" else None,
                "ts": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch + conv * 3600 + turn * 7)
                ),
            }
            turn += 1
            u, defect = rng.random(), None
            for name, share in JSON_DEFECTS:
                if u < share:
                    defect = name
                    break
                u -= share
            if defect == "role":
                doc["role"] = "operator"
            elif defect == "ts":
                doc["ts"] = _BAD_TS[int(rng.random() * len(_BAD_TS))]
            elif defect == "turn_idx":
                doc["turn_idx"] = 2**31 + int(rng.random() * 2**40)
            line = json.dumps(doc)
            if defect == "broken_json":
                # any strict prefix of an object leaves it unclosed
                line = line[: 1 + int(rng.random() * (len(line) - 1))]
                exp.corrupt += 1
            elif defect is not None:
                exp.violations[defect] += 1
            lines.append(line)
        with open(os.path.join(path, f"part-{part:03d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return exp


def write_curation_tables(path: str, seed: int, n_docs: int = 1000, n_vecs: int = 1000) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``path``.

    Documents: 20–80 words each; 3% repeat an earlier document exactly and
    10% repeat one with a word or two replaced. Embeddings: 64 floats around
    one of ten unit centres; 10% sit next to an earlier vector."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(path, exist_ok=True)
    texts: list[str] = []
    for _ in range(n_docs):
        u = rng.random()
        if texts and u < 0.03:
            text = texts[int(rng.random() * len(texts))]
        elif texts and u < 0.13:
            words = texts[int(rng.random() * len(texts))].split()
            for _ in range(1 + int(rng.random() * 2)):
                words[int(rng.random() * len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choices(_WORDS, k=20 + int(rng.random() * 61)))
        texts.append(text)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": ["en"] * n_docs,
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )

    dim = 64
    centres = []
    for _ in range(10):
        c = [rng.gauss(0, 1) for _ in range(dim)]
        norm = sum(x * x for x in c) ** 0.5
        centres.append([x / norm for x in c])
    vecs: list[list[float]] = []
    labels: list[int] = []
    for _ in range(n_vecs):
        if vecs and rng.random() < 0.10:
            j = int(rng.random() * len(vecs))
            vecs.append([x + rng.gauss(0, 0.002) for x in vecs[j]])
            labels.append(labels[j])
        else:
            label = int(rng.random() * len(centres))
            vecs.append([x + rng.gauss(0, 0.1) for x in centres[label]])
            labels.append(label)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )
