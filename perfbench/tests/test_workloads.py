"""The generators are deterministic in their seed and have the
properties each workload was chosen for."""

import json
import re

import pyarrow.parquet as pq
import pytest

from perfbench import workloads
from perfbench.checks import content_type

SMALL = {"chunks_docs": 30, "job_chat": 300, "job_near_dedup": 200}


@pytest.mark.parametrize("name", sorted(SMALL))
def test_same_seed_same_table(name):
    gen = workloads.GENERATORS[name]
    a, b = gen(7, SMALL[name]), gen(7, SMALL[name])
    assert a.equals(b)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_other_seed_other_text_same_shape(name):
    gen = workloads.GENERATORS[name]
    a, b = gen(7, SMALL[name]), gen(8, SMALL[name])
    assert list(a["conv_id"]) == list(b["conv_id"])
    assert list(a["turn_idx"]) == list(b["turn_idx"])
    assert (a["text"] != b["text"]).mean() > 0.9


def test_docs_are_long_mixed_and_mostly_non_ascii():
    df = workloads.chunks_docs(3, 60)
    sizes = df["text"].str.encode("utf-8").str.len()
    assert sizes.min() >= 3 * 1024
    types = [content_type(t) for t in df["text"]]
    assert {t: types.count(t) for t in set(types)} == {"html": 20, "pdf": 20, "markdown": 20}
    assert (~df["text"].map(str.isascii)).mean() > 0.6


def test_chat_turns_are_short_with_tools_empties_and_garbage():
    df = workloads.job_chat(3, 1200)
    text = df["text"]
    assert (text == "").sum() == 12
    lengths = text[text != ""].str.len()
    assert lengths.max() <= 800 and lengths.min() >= 40
    tools = df[df["tool"].notna()]
    assert len(tools) == pytest.approx(len(df) / 3, rel=0.05)
    for payload in tools["tool"]:
        assert set(json.loads(payload)) == {"tool", "status", "call_id"}
    garbage = text.str.contains("UONeIOeNEJ|JUSWEWLIOJUOD|x9TR4qz|Jeu900", regex=True)
    assert garbage.sum() == pytest.approx(24, abs=2)


def _shingles(text):
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def test_near_dedup_plants_one_near_copy_in_four():
    df = workloads.job_near_dedup(3, 200)
    sh = [_shingles(t) for t in df["text"]]
    for i, s in enumerate(sh):
        best = max((len(s & sh[j]) / len(s | sh[j]) for j in range(i)), default=0.0)
        if i % workloads.NEAR_COPY_EVERY == workloads.NEAR_COPY_EVERY - 1:
            assert best >= 0.7
        else:
            assert best == 0.0


def test_write_input_round_trips(tmp_path):
    df = workloads.job_chat(5, 50)
    workloads.write_input(df, str(tmp_path), 4)
    files = sorted(tmp_path.iterdir())
    assert len(files) == 4
    back = pq.read_table(str(tmp_path)).to_pandas()
    assert back["text"].tolist() == df["text"].tolist()
    assert str(back["turn_idx"].dtype) == "int32"
    assert re.fullmatch(r"part-00[0-3]\.parquet", files[0].name)
