"""The seeded generator: same seed -> identical inputs, new seed -> new ones.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import pytest

from perfbench import inputs


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _everything(seed: int, root: str) -> dict:
    small, large = inputs.make_import_files(seed, os.path.join(root, "import"))
    rows = inputs.make_tables(seed, os.path.join(root, "tables"))
    docs = inputs.make_documents(seed)
    return {
        "import_files": _digest(os.path.join(root, "import")),
        "import_sizes": [f.rows for f in small] + [large.rows],
        "import_checksums": [f.checksum for f in small] + [large.checksum],
        "import_ops": [
            [(os.path.basename(o.file.path), o.table, o.truncate) for o in
             inputs.import_cycle(seed, c, small, large)]
            for c in range(3)
        ],
        "tables": _digest(os.path.join(root, "tables")),
        "table_rows": rows,
        "sql": [inputs.sql_cycle(seed, c) for c in range(3)],
        "dedup": [
            (b.doc_ids, b.texts, b.planted)
            for b in (inputs.dedup_batch(seed, op, docs) for op in range(3))
        ],
        "topk": [inputs.topk_batch(seed, op).vectors.tobytes() for op in range(2)],
    }


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    return {
        name: _everything(seed, str(tmp_path_factory.mktemp(name)))
        for name, seed in (("a", 7), ("a_again", 7), ("b", 8))
    }


def test_same_seed_gives_identical_inputs(generated):
    assert generated["a"] == generated["a_again"]


@pytest.mark.parametrize(
    "part",
    ["import_files", "import_sizes", "import_checksums", "import_ops", "tables",
     "sql", "dedup", "topk"],
)
def test_another_seed_gives_other_inputs(generated, part):
    assert generated["a"][part] != generated["b"][part]


def test_import_cycle_is_each_large_request_then_small_ones(tmp_path):
    small, large = inputs.make_import_files(3, str(tmp_path))
    ops = inputs.import_cycle(3, 0, small, large)
    run = 1 + inputs.SMALL_PER_LARGE
    assert len(ops) == inputs.LARGE_PER_CYCLE * run
    assert [i for i, o in enumerate(ops) if o.file is large] == list(range(0, len(ops), run))
    assert all(o.file in small for o in ops if o.file is not large)
    assert sum(o.truncate for o in ops) == len(ops) // 2
    assert all(inputs.SMALL_ROWS[0] <= f.rows <= inputs.SMALL_ROWS[1] for f in small)
    assert inputs.LARGE_ROWS[0] <= large.rows <= inputs.LARGE_ROWS[1]


def test_planted_duplicates_differ_from_their_source_by_one_word():
    docs = inputs.make_documents(5)
    batch = inputs.dedup_batch(5, 0, docs)
    text = dict(zip(batch.doc_ids, batch.texts))
    assert len(batch.planted) == inputs.DEDUP_PLANTED
    for src, dup in batch.planted:
        a, b = text[src].split(), text[dup].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1


def test_every_sql_template_runs_equally_often_per_cycle():
    names = [name for name, _ in inputs.sql_cycle(1, 0)]
    assert sorted(names) == sorted(list(inputs.SQL_FACT_TABLES) * inputs.SQL_REPEATS)


def test_a_generator_run_in_a_child_process_returns_what_it_would_here(tmp_path):
    here = inputs.make_import_files(9, str(tmp_path / "here"))
    there = inputs.in_child(inputs.make_import_files, 9, str(tmp_path / "there"))
    assert [(f.rows, f.checksum) for f in [*here[0], here[1]]] == [
        (f.rows, f.checksum) for f in [*there[0], there[1]]
    ]
    assert _digest(str(tmp_path / "here")) == _digest(str(tmp_path / "there"))
