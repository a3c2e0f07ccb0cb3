"""The user function the benchmark wraps.

It lives in its own importable module because Spark pickles functions by
reference: the Python workers import ``perfbench.userfns`` rather than
receiving the code, so the raise site below is the same in the driver and
in every worker.

The function counts its own calls in an accumulator so the benchmark can
check that each input record ran through the user code exactly once
(``operators.fn_calls_per_record``).
"""

from __future__ import annotations


def make_enrich(counter):
    """stream_captured: amount -> amount with tax; a negative amount is a
    poison record and raises."""

    def enrich(amount):
        counter.add(1)
        if amount is None:
            return None
        if amount < 0:
            raise ValueError(f"negative amount {amount!r}")
        return round(amount * 1.07, 2)

    return enrich
