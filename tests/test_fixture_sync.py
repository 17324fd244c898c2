"""The committed fixture table is the test source of truth: it must
round-trip through raw `.bin` framing and, where the reference checkout
is present, stay value-identical to what the generator derives from the
reference .bin files."""

import pyarrow.parquet as pq
import pytest

from tests.conftest import FIXTURE_PARQUET
from tools import fixture_gen


@pytest.mark.skipif(not fixture_gen.REF_EVENTS.exists(),
                    reason="provenance check needs the boxercrab reference "
                           "checkout (tools/fixture_gen.REF_EVENTS), absent "
                           "here; data/fixture_events.parquet is the source "
                           "of truth")
def test_committed_fixture_matches_reference():
    committed = pq.read_table(FIXTURE_PARQUET).to_pylist()
    fresh = fixture_gen.rows_to_table(
        fixture_gen.load_reference_events()).to_pylist()
    assert len(committed) == len(fresh) == 166
    for a, b in zip(committed, fresh):
        assert a == b, a["doc_id"]


def test_fixture_bins_round_trip(spark, fixture_bins):
    """parquet -> rebuilt <case>/log.bin -> binsource.read_binlog_dir gives
    back the committed (doc_id, tokens, source) rows byte for byte."""
    from binlogpipe import binsource

    want = sorted((d, list(ev), s)
                  for d, s, ev in fixture_gen.load_fixture_events())
    assert len(want) == 166
    got = sorted((r.doc_id, list(r.tokens), r.source) for r in
                 binsource.read_binlog_dir(spark, f"{fixture_bins}/*")
                 .collect())
    assert got == want


def test_synth_is_deterministic(tmp_path):
    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    fixture_gen.write_synth_parquet(a, 3)
    fixture_gen.write_synth_parquet(b, 3)
    assert pq.read_table(a).equals(pq.read_table(b))
    # different seed -> different headers, same payloads
    c = tmp_path / "c.parquet"
    fixture_gen.write_synth_parquet(c, 3, seed=7)
    ta, tc = pq.read_table(a), pq.read_table(c)
    assert not ta.equals(tc)
    assert ta.column("doc_id").equals(tc.column("doc_id"))
