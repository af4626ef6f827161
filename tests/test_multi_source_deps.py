"""MultiSource dependency derivation from transform code
(``track_queries`` hop/iHop registrations) — the reference's dep-builder
table test, ported entry by entry
(internal/jobs/source/multi_source_dep_builder_test.go:238-319;
builder: multi_source_dep_builder.go:29-191). Pure driver-side logic,
no Spark session needed."""

from __future__ import annotations

from datahub_spark.jobs import (
    Dependency, Join, parse_multi_source_dependencies,
)


def js_track(*chains: str) -> str:
    body = "\n".join(f"    reg{c};" for c in chains)
    return ("function transform_entities(entities) { return entities; }\n"
            f"function track_queries(reg) {{\n{body}\n}}")


def test_nothing():
    assert parse_multi_source_dependencies("person") == []


def test_json_config_only():
    cfg = ('[{"dataset": "address", "joins":[{"dataset": "person", '
           '"predicate": "home", "inverse": true}]}]')
    assert parse_multi_source_dependencies("person", cfg) == [
        Dependency("address", [Join("person", "home", True)]),
    ]


def test_track_queries_only_single_hop():
    code = js_track('.hop("address", "home")')
    assert parse_multi_source_dependencies("person", None, code) == [
        Dependency("address", [Join("person", "home", True)]),
    ]


def test_combined_json_and_track_queries():
    cfg = ('[{"dataset": "address", "joins":[{"dataset": "person", '
           '"predicate": "home", "inverse": true}]}]')
    code = js_track('.iHop("car", "owner")')
    assert parse_multi_source_dependencies("person", cfg, code) == [
        Dependency("address", [Join("person", "home", True)]),
        Dependency("car", [Join("person", "owner", False)]),
    ]


def test_duplicate_dependencies_dedup():
    cfg = ('[{"dataset": "product", '
           '"joins": [{"dataset": "order", "predicate": "ordered", '
           '"inverse": true}, {"dataset": "person", "predicate": '
           '"ordering", "inverse": false}]}]')
    code = js_track('.iHop("order", "ordering").hop("product", "ordered")')
    assert parse_multi_source_dependencies("person", cfg, code) == [
        Dependency("product", [Join("order", "ordered", True),
                               Join("person", "ordering", False)]),
        # implicit dependency on the intermediate hop dataset
        Dependency("order", [Join("person", "ordering", False)]),
    ]


def test_complex_track_queries():
    code = js_track(
        '.hop("address", "home")',
        '.hop("address", "work")',
        '.iHop("car", "owner").hop("address", "parked_at")'
        '.iHop("person", "home")',
    )
    assert parse_multi_source_dependencies("person", None, code) == [
        Dependency("address", [Join("person", "home", True)]),
        Dependency("address", [Join("person", "work", True)]),
        Dependency("person", [
            # dependency tracking is the reverse of the query chain
            Join("address", "home", False),
            Join("car", "parked_at", True),
            Join("person", "owner", False),
        ]),
        # implicit dependencies from the chain's intermediate datasets
        Dependency("address", [Join("car", "parked_at", True),
                               Join("person", "owner", False)]),
        Dependency("car", [Join("person", "owner", False)]),
    ]


def test_script_without_track_queries_contributes_nothing():
    code = "function transform_entities(entities) { return entities; }"
    assert parse_multi_source_dependencies("person", None, code) == []


def test_base64_transform_code_accepted():
    import base64

    code = js_track('.hop("address", "home")')
    b64 = base64.b64encode(code.encode()).decode()
    assert parse_multi_source_dependencies("person", None, b64) == [
        Dependency("address", [Join("person", "home", True)]),
    ]
