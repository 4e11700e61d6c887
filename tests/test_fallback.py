"""W3 fallback FIFO: the Upstage kernel's pop logic
(`kernels/upstage.get_fallback_data`) vs the oracle's sequential
FallbackState, on every pop regime (SURVEY §4.3)."""

from __future__ import annotations


def test_w3_pop_variants_parity():
    """W3's three pop regimes (`backend.py:137-163`): kernel and oracle
    restatements agree on every regime, including the dead-at-the-call-site
    partial pops (test-only / presc-only), which must REMOVE the donor pair
    entirely and skip pairs whose needed half is empty."""
    from micro_lab_ocr_spark.kernels import upstage as uk
    from micro_lab_ocr_spark.oracle.extract import FallbackState

    cases = [
        # (queue, cur_test, cur_presc) -> expected (test, presc, remaining queue)
        ([("T1", "P1"), ("T2", "P2")], None, None, ("T1", "P1", [("T2", "P2")])),
        ([(None, "P1"), ("T2", "P2")], None, None, (None, "P1", [("T2", "P2")])),
        ([], None, None, (None, None, [])),
        # test-only: first pair with a non-empty test donates; pair removed
        ([(None, "P1"), ("T2", "P2")], None, "KEEP", ("T2", "KEEP", [(None, "P1")])),
        ([(None, "P1"), (None, "P2")], None, "KEEP", (None, "KEEP", [(None, "P1"), (None, "P2")])),
        # presc-only: symmetric
        ([("T1", None), ("T2", "P2")], "KEEP", None, ("KEEP", "P2", [("T1", None)])),
        ([("T1", None)], "KEEP", None, ("KEEP", None, [("T1", None)])),
        # both present: no pop at all
        ([("T1", "P1")], "A", "B", ("A", "B", [("T1", "P1")])),
    ]
    for queue, ct, cp, (et, ep, eq) in cases:
        q1 = list(queue)
        got = uk.get_fallback_data(q1, ct, cp)
        assert got == (et, ep) and q1 == eq, f"kernel {queue} {ct} {cp}: {got} {q1}"
        st = FallbackState()
        st.pairs = list(queue)
        got2 = st.get_fallback_data(ct, cp)
        assert got2 == (et, ep) and st.pairs == eq, f"oracle {queue} {ct} {cp}"
