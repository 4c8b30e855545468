"""Query plan catalog. Importing this package populates REGISTRY.

Registry order IS the driver's CORRECTNESS order: each round the driver
checks only the first ``WINDOW`` entries of ``queries()`` and commits
their rows as ``CORRECTNESS_r<N>.json`` in the repo root. So after all
modules register, the registry is reordered by :func:`driver_order`
from those committed files, and the evidence itself decides what the
next window checks:

1. faces whose latest driver row failed, then faces with no green row
   at all (new faces), both in registration order;
2. the faces named in ``TOUCHED``;
3. every other face, oldest green evidence first (ties by name).

A row is green when its ``err`` is empty or ``"no_oracle"`` (the
rows-only check) and neither ``hash_match`` nor ``rows_match`` is
False. Rounds are ordered by the number in the file name.

``TOUCHED = (N, names)`` is the one hand-kept input: the faces whose
code changed after round N's driver rows. It applies only while N is
the newest evidence round, so it expires by itself once the driver
writes the next file; a name that is not registered fails the import.
With ``WINDOW`` rows a round, ``MAX_FACES`` faces refresh within
``MAX_EVIDENCE_AGE`` rounds.
"""

import json
import re
from pathlib import Path

from pythondataingestionprocess_spark.plans.registry import REGISTRY, QuerySpec, query

# Each module registers its queries on import.
from pythondataingestionprocess_spark.plans import source_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import streaming_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import asof_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import subqueries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import llm_ops  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import core_relational  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import windows  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import cleaning_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import warehouse  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import llm_heavy  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import tpch_shapes  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import timeseries_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import feature_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import graph_queries  # noqa: E402,F401
from pythondataingestionprocess_spark.plans import corpus_ops  # noqa: E402,F401

WINDOW = 50  # rows the driver checks per round
MAX_EVIDENCE_AGE = 4  # rounds a face's latest green row may trail the newest
# ceil(180 / 50) = 4 = MAX_EVIDENCE_AGE, with 20 slots of slack for
# failed rows that must ride a second window
MAX_FACES = 180

TOUCHED = (18, (
    "copurchase_triangles",
    "dedup_cosine_incremental",
    "dedup_embedding_cosine",
    "dedup_groups_cc",
    "dedup_incremental_components",
    "dedup_incremental_minhash",
    "dedup_keep_one",
    "dedup_minhash_lsh",
    "embedding_ann_ivf",
    "feature_winsorize_robust",
    "multimodal_binary_meta",
    "multimodal_decode_stats",
    "multimodal_frame_sample",
    "multimodal_real_decode_roundtrip",
    "part_clustering_coefficient",
    "percentile_cont_prices",
    "snapshot_change_feed",
    "txn_group_atomic_ingest",
))

_EVIDENCE_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")


def load_evidence(root: Path) -> list[tuple[int, dict]]:
    """(round, {name: row}) for every CORRECTNESS_r*.json under root."""
    evidence = []
    for path in root.glob("CORRECTNESS_r*.json"):
        m = _EVIDENCE_NAME.fullmatch(path.name)
        if not m:
            raise ValueError(f"not a CORRECTNESS_r<N>.json file: {path}")
        evidence.append((int(m.group(1)), json.loads(path.read_text())))
    return sorted(evidence, key=lambda e: e[0])


def _green(row: dict) -> bool:
    err = row.get("err")
    return (
        (not err or err == "no_oracle")
        and row.get("hash_match") is not False
        and row.get("rows_match") is not False
    )


def evidence_state(evidence) -> tuple[dict[str, int], set[str]]:
    """({name: last green round}, {names whose latest row failed})."""
    last_green: dict[str, int] = {}
    failed: set[str] = set()
    for rnd, rows in sorted(evidence, key=lambda e: e[0]):
        for name, row in rows.items():
            if _green(row):
                last_green[name] = rnd
                failed.discard(name)
            else:
                failed.add(name)
    return last_green, failed


def driver_order(names, evidence, touched) -> list[str]:
    """``names`` reordered for the driver window (module docstring)."""
    rnd, touched_names = touched
    unknown = [n for n in touched_names if n not in names]
    if unknown:
        raise ValueError(f"TOUCHED names not registered: {unknown}")
    last_green, failed = evidence_state(evidence)
    newest = max((r for r, _ in evidence), default=None)
    front = [n for n in names if n in failed]
    front += [n for n in names if n not in last_green and n not in failed]
    if rnd == newest:
        front += [n for n in touched_names if n not in front]
    seen = set(front)
    rest = sorted((n for n in names if n not in seen), key=lambda n: (last_green[n], n))
    return front + rest


_order = driver_order(
    list(REGISTRY), load_evidence(Path(__file__).resolve().parents[2]), TOUCHED
)
_faces = dict(REGISTRY)
REGISTRY.clear()
REGISTRY.update((n, _faces[n]) for n in _order)

__all__ = [
    "REGISTRY",
    "QuerySpec",
    "query",
    "WINDOW",
    "MAX_EVIDENCE_AGE",
    "MAX_FACES",
    "TOUCHED",
    "driver_order",
    "evidence_state",
    "load_evidence",
]
