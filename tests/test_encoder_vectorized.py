"""Pins the round-5 whole-partition vectorized encoder rewrite.

_encode_groups originally encoded each (term, salt) group with its own
argsort + three codec calls; profiling the 3M-doc scaling legs put the
stage-2 python time in exactly that per-group call overhead (22x slower
than one whole-partition pass at avg group size 5, 2.7x at 50 — see the
module docstring in operators/segments.py). The rewrite sorts once
(np.lexsort by (group key, doc_id)), varbyte-encodes each stream over
the WHOLE partition, and slices per-group byte ranges.

This test re-implements the original per-group encoder verbatim as the
reference and asserts byte-identical output across every input shape:
string/int64 terms, with/without nb, with/without positions, duplicate
(term, salt) spread across the frame, single-group, and single-posting
frames. The reference encodes each group's position lists; the encoder
receives them as it does in the engine, pre-encoded per posting
(pos_vb, the doc-local posting builder's output). No Spark session
needed — the encoder is pure pandas/numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from content_rw_elasticsearch_spark.operators import codec, segments


def _reference_encode(pdf: pd.DataFrame, with_positions: bool,
                      carry_cols: list[str]) -> pd.DataFrame:
    """The pre-round-5 per-group encoder, kept verbatim as the oracle."""
    codes = pd.factorize(pdf["term"])[0].astype(np.int64)
    key = (codes << 20) | pdf["salt"].to_numpy(np.int64)
    order = np.argsort(key, kind="stable")
    key_s = key[order]
    change = np.flatnonzero(key_s[1:] != key_s[:-1]) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [key_s.size]))
    terms = pdf["term"].to_numpy(dtype=object)[order]
    salts = pdf["salt"].to_numpy()[order]
    nbs = pdf["nb"].to_numpy()[order] if "nb" in pdf.columns else None
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.uint64)[order]
    tfs = pdf["tf"].to_numpy(dtype=np.uint64)[order]
    dls = pdf["doc_len"].to_numpy(dtype=np.uint64)[order]
    plists = (
        pdf["positions"].to_numpy(dtype=object)[order]
        if with_positions and "positions" in pdf.columns else None
    )
    carries = {c: pdf[c].to_numpy()[order] for c in carry_cols}
    rows = []
    for s, e in zip(starts, ends):
        ids, tf_g, dl_g = doc_ids[s:e], tfs[s:e], dls[s:e]
        o = np.argsort(ids, kind="stable")
        ids, tf_g, dl_g = ids[o], tf_g[o], dl_g[o]
        pos_vb = b""
        if with_positions and plists is not None and ids.size:
            pl = plists[s:e][o]
            flat = (np.concatenate([np.asarray(p, dtype=np.uint64)
                                    for p in pl])
                    if len(pl) else np.empty(0, np.uint64))
            if flat.size:
                pos_vb = codec.positions_encode(flat, tf_g)
        row = {
            "term": terms[s], "salt": int(salts[s]),
            **({} if nbs is None else {"nb": int(nbs[s])}),
            "count": int(ids.size),
            "max_tf": int(tf_g.max()), "min_dl": int(dl_g.min()),
            "docs_vb": codec.delta_encode(ids),
            "tfs_vb": codec.varbyte_encode(tf_g),
            "dlens_vb": codec.varbyte_encode(dl_g),
            "pos_vb": pos_vb,
        }
        row.update({c: carries[c][s] for c in carry_cols})
        rows.append(row)
    return pd.DataFrame(rows)


def _make_input(n_groups: int, avg_sz: int, with_positions: bool,
                seed: int = 0, int_terms: bool = False) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    sizes = rng.poisson(avg_sz, n_groups) + 1
    rows = []
    for g in range(n_groups):
        term = (np.int64(rng.integers(0, 2 ** 62)) if int_terms
                else f"t{g % (n_groups // 2 + 1)}")
        salt = int(rng.integers(0, 8))
        # carry cols are constant per (term, salt) group by contract
        bucket = (abs(hash(str(term))) + salt) % 16
        ids = np.unique(rng.integers(0, 2 ** 63, sizes[g]).astype(np.uint64))
        for d in ids:
            tf = int(rng.integers(1, 50))
            row = dict(term=term, salt=salt, doc_id=d, tf=tf,
                       doc_len=int(rng.integers(1, 2000)), bucket=bucket)
            if with_positions:
                row["positions"] = np.sort(
                    rng.integers(0, 5000, tf).astype(np.uint64))
                row["pos_vb"] = codec.positions_encode(
                    row["positions"], np.array([tf], np.uint64))
            rows.append(row)
    df = pd.DataFrame(rows)
    # scatter group members across the frame (hash repartition order)
    return df.sample(frac=1.0, random_state=1).reset_index(drop=True)


def _run_new(pdf, with_positions, carry):
    pdf = pdf.drop(columns=["positions"], errors="ignore")
    return pd.concat(
        list(segments._encode_groups(pdf, with_positions, carry)),
        ignore_index=True,
    )


@pytest.mark.parametrize("with_positions", [False, True])
@pytest.mark.parametrize("int_terms", [False, True])
@pytest.mark.parametrize("with_nb", [False, True])
def test_vectorized_encoder_matches_per_group_reference(
    with_positions, int_terms, with_nb
):
    pdf = _make_input(120, 12, with_positions, seed=7, int_terms=int_terms)
    if with_nb:
        pdf["nb"] = 8
    old = _reference_encode(pdf.copy(), with_positions, ["bucket"])
    new = _run_new(pdf.copy(), with_positions, ["bucket"])
    old = old.sort_values(["term", "salt"]).reset_index(drop=True)
    new = new.sort_values(["term", "salt"]).reset_index(drop=True)
    assert list(old.columns) == list(new.columns)
    for c in old.columns:
        assert old[c].tolist() == new[c].tolist(), c


def test_vectorized_encoder_single_group_single_posting():
    pdf = pd.DataFrame({"term": ["only"], "salt": [0], "nb": [1],
                        "doc_id": [42], "tf": [3], "doc_len": [11]})
    out = _run_new(pdf, False, [])
    assert len(out) == 1
    r = out.iloc[0]
    assert r["count"] == 1 and r["max_tf"] == 3 and r["min_dl"] == 11
    assert codec.delta_decode(r["docs_vb"]).tolist() == [42]
    assert codec.varbyte_decode(r["tfs_vb"]).tolist() == [3]


def test_vectorized_encoder_yields_bounded_batches():
    """Output stays chunked (Arrow batch bound), GROUPS_PER_YIELD each."""
    n = segments.GROUPS_PER_YIELD + 5
    pdf = pd.DataFrame({
        "term": [f"t{i}" for i in range(n)], "salt": [0] * n,
        "doc_id": np.arange(1, n + 1, dtype=np.uint64),
        "tf": [1] * n, "doc_len": [5] * n,
    })
    chunks = list(segments._encode_groups(pdf, False, []))
    assert len(chunks) == 2
    assert len(chunks[0]) == segments.GROUPS_PER_YIELD
    assert len(chunks[1]) == 5


def test_codec_with_lengths_variants_consistent():
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 2 ** 40, 1000).astype(np.uint64)
    buf, nb = codec.varbyte_encode_with_lengths(vals)
    assert buf == codec.varbyte_encode(vals)
    assert int(nb.sum()) == len(buf)
    # per-value byte counts split the stream at value boundaries
    offs = np.concatenate(([0], np.cumsum(nb)))
    for i in (0, 1, 500, 999):
        piece = buf[offs[i]:offs[i + 1]]
        assert codec.varbyte_decode(piece).tolist() == [int(vals[i])]
