"""``tools/plan_diff.py`` normalization: a distinct-aggregate Expand's
column order varies between runs of one commit, nothing else may."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from plan_diff import normalize  # noqa: E402

# two runs of one plan (dataset_profile): the distinct groups come out
# in another order, with other gid numbers
RUN_A = """(2) Expand
Input [2]: [doc_id#11L, lang#12]
Arguments: [[null, null, 0, doc_id#11L, lang#12], [lang#12, null, 1, null, null], [null, doc_id#11L, 2, null, null]], [lang#20, doc_id#21L, gid#22, doc_id#23L, lang#24]

(3) HashAggregate
Keys [3]: [lang#20, doc_id#21L, gid#22]
Functions [2]: [partial_count(lang#20) FILTER (WHERE (gid#22 = 1)), partial_count(doc_id#21L) FILTER (WHERE (gid#22 = 2))]
Results [2]: [lang#20, doc_id#21L]
"""
RUN_B = """(2) Expand
Input [2]: [doc_id#41L, lang#42]
Arguments: [[null, null, 0, doc_id#41L, lang#42], [null, doc_id#41L, 1, null, null], [lang#42, null, 2, null, null]], [doc_id#50L, lang#51, gid#52, doc_id#53L, lang#54]

(3) HashAggregate
Keys [3]: [doc_id#50L, lang#51, gid#52]
Functions [2]: [partial_count(lang#51) FILTER (WHERE (gid#52 = 2)), partial_count(doc_id#50L) FILTER (WHERE (gid#52 = 1))]
Results [2]: [lang#20, doc_id#21L]
"""


def test_distinct_expand_column_order_is_noise():
    assert normalize(RUN_A) == normalize(RUN_B)


def test_other_column_orders_still_differ():
    b = RUN_B.replace("Results [2]: [lang#20, doc_id#21L]",
                      "Results [2]: [doc_id#21L, lang#20]")
    assert normalize(RUN_A) != normalize(b)
    c = RUN_B.replace("partial_count(lang#51)", "partial_sum(lang#51)")
    assert normalize(RUN_A) != normalize(c)
