"""The engine's violation array is generated as SQL text
(``engine.violations_sql``); these tests pin it row for row to the
Column-builder reference in ``tests/reference_violations.py`` over every
``ErrType`` shape, and over rule and field names that need quoting."""

from collections import Counter

from valor_spark import (
    EArray,
    EString,
    adapt,
    check1,
    checkN,
    checkN_map,
    fail_if,
    field,
    peer,
    record,
)
from valor_spark.plans.engine import validate

from reference_violations import reference_violations

EA = EArray()

ROWS = [
    ("r1", "", 12, ["a", "", "b"], {"k1": "", "k2": "v"}, [("", 3), ("x", -1)]),
    ("r2", "bob", 30, [], {}, []),
    ("r3", None, None, None, None, None),
    ("r4", "eve", 5, ["", ""], {"o'k": "", "b`q": "z"}, [(None, 0), ("", 7)]),
]
SCHEMA = (
    "id string, name string, age int, tags array<string>, "
    "attrs map<string,string>, people array<struct<nick:string, score:int>>"
)


def _rules():
    nonempty = fail_if(["Empty"], lambda c: c == "", EA)
    person = record(
        {
            "ni.ck": check1("nick", nonempty),
            "sc'ore": check1("score", fail_if("Negative", lambda c: c < 0, EString())),
        }
    )
    return {
        # check1 / record: ENullable fields of an ERecord
        "rec.o'rd": record(
            {
                "na`me": check1("name", nonempty),
                "a\\ge": check1("age", fail_if("TooYoung", lambda c: c < 18, EString())),
            }
        ),
        # checkN: ENullable(EArrayOf(ENullable(EArray)))
        "ta`gs": checkN("tags", nonempty),
        # checkN_map: ENullable(EMapOf(ENullable(EArray))), [key] paths
        "at\\trs": checkN_map("attrs", nonempty),
        # peer: ENullable(EArray)
        "peer": peer(adapt(field("name"), fail_if(["NoName"], lambda c: c.isNull(), EA))),
        # EString at the top level
        "young": adapt(field("age"), fail_if("Minor", lambda c: c < 18, EString())),
        # ENullable(ERecord(EArrayOf(ENullable(ERecord(...)))))
        "deep": peer(record({"people": checkN("people", person)})),
    }


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_violations_sql_matches_column_reference(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    rules = _rules()
    res = validate(df, rules, key_cols=["id"])
    got, ref = res.violations(), reference_violations(res, rules)
    assert got.schema == ref.schema
    assert _multiset(got) == _multiset(ref)
    # every rule fires, so every shape is exercised
    paths = {(r["rule"], r["path"]) for r in got.collect()}
    assert {rule for rule, _ in paths} == set(rules)
    assert ("rec.o'rd", ".na`me") in paths
    assert ("rec.o'rd", ".a\\ge") in paths
    assert ("ta`gs", "[1]") in paths
    assert ("at\\trs", "[o'k]") in paths
    assert ("deep", ".people[0].ni.ck") in paths
    assert ("deep", ".people[1].sc'ore") in paths
    # valid/invalid split on the same verdicts
    invalid = {r["id"] for r in res.invalid().collect()}
    assert invalid == {r["id"] for r in got.collect()}
    assert res.valid().count() == len(ROWS) - len(invalid)
