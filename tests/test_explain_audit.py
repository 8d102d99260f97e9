"""scripts/explain_audit.py's physical-plan expectations at sf0.001."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
import explain_audit  # noqa: E402


def test_explain_audit(spark):
    assert explain_audit.audit(spark, "/root/testdata/sf0.001") == []


def test_exchange_keys_parse():
    """Exchange arguments in formatted plans parse to their hash
    columns; any other partitioning is None."""
    plan = (
        "(3) Exchange\nInput [2]: [doc_id#48L, text#49]\n"
        "Arguments: hashpartitioning(doc_id#48L, 8), REPARTITION_BY_NUM, "
        "[plan_id=85]\n\n"
        "(7) Exchange\nInput [2]: [l_orderkey#1L, l_linenumber#2]\n"
        "Arguments: hashpartitioning(l_orderkey#1L, l_linenumber#2, 8), "
        "ENSURE_REQUIREMENTS, [plan_id=9]\n\n"
        "(9) Exchange\nInput [1]: [x#5]\n"
        "Arguments: RoundRobinPartitioning(8), REPARTITION_BY_NUM, "
        "[plan_id=12]\n"
    )
    assert explain_audit._exchange_keys(plan) == [
        ["doc_id"], ["l_orderkey", "l_linenumber"], None]
