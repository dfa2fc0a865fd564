from __future__ import annotations

from pathlib import Path

import pytest

from dff.ruleset import CyclicRulesetError, parse_dmn, parse_json
from tests.fixtures import CYCLIC_RULESET_JSON, RULESET_JSON

DMN_PATH = "/root/reference/DFF_Ruleset.dmn"
#: in-repo transcription of the same five decisions (SURVEY.md §1.4)
FIXTURE_DMN = Path(__file__).parent / "data" / "dff_ruleset.dmn"


def test_parse_dmn_nodes_and_edges():
    rs = parse_dmn(DMN_PATH)
    assert len(rs.constraints) == 5
    names = [c.name for c in rs.constraints]
    assert names[0] == "AUTHZN_AMT > ACCT_AVL_CASH_BEFORE_AMT"
    assert names[1] == "AUTHZN_AMT > ACCT_CL_AMT and CDHLDR_PRES_CD = 0"
    assert names[4] == "models:/fraud_xgb_model/production"
    # chain R1->R2->R3 fan-out {R4, R5}
    by_name = {c.name: c for c in rs.constraints}
    r3 = by_name["AUTHZN_AMT > AVG_DLY_AUTHZN_AMT"]
    r4 = by_name["LAST_ADR_CHNG_DUR < 300"]
    r5 = by_name["models:/fraud_xgb_model/production"]
    assert r4.requires == (r3.id,)
    assert r5.requires == (r3.id,)
    assert by_name["AUTHZN_AMT > ACCT_AVL_CASH_BEFORE_AMT"].requires == ()


def test_topo_order_matches_reference_observation():
    """Observed reference order R1..R5 (SURVEY.md §1.4: NetworkX insertion-order ties)."""
    rs = parse_dmn(DMN_PATH)
    assert [c.order for c in rs.topo_order] == [0, 1, 2, 3, 4]


def test_parse_dmn_fixture_nodes_edges_kinds_and_order():
    """parse_dmn on the in-repo fixture: five nodes in document order, the
    chain R1->R2->R3 fanning out to {R4, R5}, R5 a model score, and the
    topological order R1..R5."""
    rs = parse_dmn(FIXTURE_DMN)
    assert [c.name for c in rs.constraints] == [
        "AUTHZN_AMT > ACCT_AVL_CASH_BEFORE_AMT",
        "AUTHZN_AMT > ACCT_CL_AMT and CDHLDR_PRES_CD = 0",
        "AUTHZN_AMT > AVG_DLY_AUTHZN_AMT",
        "LAST_ADR_CHNG_DUR < 300",
        "models:/fraud_xgb_model/production",
    ]
    r1, r2, r3, r4, r5 = (c.id for c in rs.constraints)
    assert r1 == "Decision_786820" and r5 == "Decision_850B8DCD"
    assert [c.requires for c in rs.constraints] == [(), (r1,), (r2,), (r3,), (r3,)]
    assert [c.kind for c in rs.constraints] == ["sql"] * 4 + ["score"]
    assert [c.id for c in rs.topo_order] == [r1, r2, r3, r4, r5]


def test_kind_classification():
    rs = parse_json(RULESET_JSON)
    kinds = [c.kind for c in rs.topo_order]
    assert kinds == ["sql", "sql", "sql", "sql", "score"]
    assert rs.sensitivity == 0.7


def test_cycle_raises():
    with pytest.raises(CyclicRulesetError):
        parse_json(CYCLIC_RULESET_JSON)


def test_unknown_parent_raises():
    with pytest.raises(ValueError):
        parse_json({"rules": [{"id": "A", "name": "x > 1", "requires": ["NOPE"]}]})
