"""JS interpreter semantics (datahub_spark.js) — the language subset the
reference's transforms use (goja sandbox, transform.go:236-263). Pure
Python, no Spark session needed."""

from __future__ import annotations

import pytest

from datahub_spark.js import (
    JSError, JSThrown, UNDEFINED, js_to_string, run_program,
)


def run_expr(expr: str, host=None):
    fns = run_program(f"function f() {{ return {expr}; }}", host)
    return fns["f"]()


def run_body(body: str, host=None):
    fns = run_program(f"function f() {{ {body} }}", host)
    return fns["f"]()


# -- numbers & coercion ----------------------------------------------------

@pytest.mark.parametrize("expr,expected", [
    ("1 + 2", 3),
    ("'a' + 1", "a1"),
    ("1 + 'a'", "1a"),
    ("'3' * '4'", 12),
    ("7 / 2", 3.5),
    ("8 / 2", 4),
    ("-7 % 3", -1),            # JS: sign of dividend
    ("7 % -3", 1),
    ("2 + 3 * 4", 14),
    ("(2 + 3) * 4", 20),
    ("0x10", 16),
    ("1.5e2", 150.0),
    ("'5' - 2", 3),            # minus coerces numerically
    ("true + 1", 2),
    ("null + 1", 1),
])
def test_arithmetic(expr, expected):
    assert run_expr(expr) == expected


def test_integral_float_prints_bare():
    # goja stores JSON-deserialized numbers as float64; printing must not
    # grow a ".0" (transform_test.go:71-111 round-trip)
    assert js_to_string(6708238.0) == "6708238"
    assert js_to_string(2.5) == "2.5"
    assert run_expr("'' + 6708238.0") == "6708238"


def test_nan_and_division_by_zero():
    assert run_expr("1 / 0") == float("inf")
    v = run_expr("0 / 0")
    assert v != v  # NaN
    assert run_expr("isNaN('abc' * 2)") is True


# -- equality --------------------------------------------------------------

@pytest.mark.parametrize("expr,expected", [
    ("null == undefined", True),
    ("null === undefined", False),
    ("null == 0", False),
    ("undefined == 0", False),
    ("'1' == 1", True),
    ("'1' === 1", False),
    ("true == 1", True),
    ("NaN == NaN", False),
    ("'' == false", True),
    ("[] === []", False),      # reference identity
])
def test_equality(expr, expected):
    assert run_expr(expr) is expected


# -- strings ---------------------------------------------------------------

@pytest.mark.parametrize("expr,expected", [
    ("'HeLLo'.toLowerCase()", "hello"),
    ("'hello'.toUpperCase()", "HELLO"),
    ("'hello'.substring(0, 3)", "hel"),
    ("'hello'.substring(3, 0)", "hel"),   # args swap like JS
    ("'hello'.slice(-3)", "llo"),
    ("'a,b,c'.split(',')", ["a", "b", "c"]),
    ("'abc'.split('')", ["a", "b", "c"]),
    ("'  x '.trim()", "x"),
    ("'hello'.indexOf('ll')", 2),
    ("'hello'.includes('ell')", True),
    ("'hello'.startsWith('he')", True),
    ("'hello'.replace('l', 'L')", "heLlo"),
    ("'hello'.replaceAll('l', 'L')", "heLLo"),
    ("'ab'.repeat(3)", "ababab"),
    ("'x'.padStart(3, '0')", "00x"),
    ("'hello'.length", 5),
    ("'hello'.charAt(1)", "e"),
    ("'hello'[1]", "e"),
    ("`a${1 + 1}b`", "a2b"),
])
def test_strings(expr, expected):
    assert run_expr(expr) == expected


# -- arrays ----------------------------------------------------------------

def test_array_methods():
    assert run_expr("[1,2,3].map(function(x) { return x * 2; })") == [2, 4, 6]
    assert run_expr("[1,2,3,4].filter(x => x % 2 == 0)") == [2, 4]
    assert run_expr("[1,2,3].reduce((a, b) => a + b, 10)") == 16
    assert run_expr("[3,1,2].sort()") == [1, 2, 3]
    assert run_expr("[3,1,2].sort((a,b) => b - a)") == [3, 2, 1]
    assert run_expr("[1,2].concat([3], 4)") == [1, 2, 3, 4]
    assert run_expr("['a','b'].join('-')") == "a-b"
    assert run_expr("[1,2,3].indexOf(2)") == 1
    assert run_expr("[1,2,3].includes(3)") is True
    assert run_expr("[1,[2,[3]]].flat(2)") == [1, 2, 3]
    assert run_expr("[1,2,3].slice(1)") == [2, 3]
    assert run_expr("Array.isArray([])") is True
    assert run_expr("Array.isArray('x')") is False
    assert run_body("var a = []; a.push(1); a.push(2, 3); return a;") == \
        [1, 2, 3]
    assert run_body("var a = [1,2,3]; a.splice(1, 1); return a;") == [1, 3]
    assert run_expr("[1,2,3].find(x => x > 1)") == 2


def test_array_index_write_grows():
    assert run_body("var a = []; a[2] = 'x'; return a.length;") == 3


# -- objects ---------------------------------------------------------------

def test_object_literals_and_access():
    assert run_expr("({a: 1, 'b': 2})['a']") == 1
    assert run_expr("({a: 1}).a") == 1
    out = run_body("var k = 'dyn'; return {[k]: 5};")
    assert out == {"dyn": 5}
    assert run_body("var a = 7; return {a};") == {"a": 7}
    assert run_expr("Object.keys({x: 1, y: 2})") == ["x", "y"]
    assert run_expr("Object.entries({x: 1})") == [["x", 1]]
    assert run_body(
        "var o = {}; Object.assign(o, {a: 1}, {b: 2}); return o;") == \
        {"a": 1, "b": 2}
    assert run_body("var o = {a: 1}; delete o.a; return o;") == {}
    assert run_expr("({a: 1}).hasOwnProperty('a')") is True
    assert run_expr("({a: 1}).missing") is UNDEFINED


# -- control flow ----------------------------------------------------------

def test_for_of_and_destructuring():
    body = """
    var total = 0;
    for (const [k, v] of Object.entries({a: 1, b: 2})) {
        total += v;
    }
    return total;
    """
    assert run_body(body) == 3


def test_for_of_undeclared_binding():
    # the reference fixtures write `for (e of entities)` — no declaration
    body = """
    var out = [];
    for (e of [1, 2, 3]) { out.push(e * 10); }
    return out;
    """
    assert run_body(body) == [10, 20, 30]


def test_c_style_for_and_break_continue():
    body = """
    var s = 0;
    for (var i = 0; i < 10; i++) {
        if (i == 3) continue;
        if (i > 5) break;
        s += i;
    }
    return s;
    """
    assert run_body(body) == 0 + 1 + 2 + 4 + 5


def test_while_and_do_while():
    assert run_body(
        "var n = 0; while (n < 5) { n++; } return n;") == 5
    assert run_body(
        "var n = 10; do { n++; } while (false); return n;") == 11


def test_ternary_logical_nullish():
    assert run_expr("1 > 2 ? 'a' : 'b'") == "b"
    assert run_expr("null || 'fallback'") == "fallback"
    assert run_expr("'x' && 'y'") == "y"
    assert run_expr("0 ?? 5") == 0          # nullish keeps falsy non-null
    assert run_expr("null ?? 5") == 5


def test_switch_with_fallthrough_and_default():
    body = """
    var out = [];
    for (var x of ['a', 'b', 'z', 'c']) {
        switch (x) {
            case 'a':
                out.push('A');
                break;
            case 'b':            // fallthrough
            case 'c':
                out.push('BC');
                break;
            default:
                out.push('other');
        }
    }
    return out;
    """
    assert run_body(body) == ["A", "BC", "other", "BC"]


def test_switch_strict_match():
    # case matching is ===: '1' does not match 1
    body = """
    switch ('1') { case 1: return 'number'; default: return 'string'; }
    """
    assert run_body(body) == "string"


# -- functions -------------------------------------------------------------

def test_function_hoisting_and_closures():
    code = """
    function outer() { return helper() + 1; }
    function helper() { return 41; }
    function counter() {
        var n = 0;
        return function() { n += 1; return n; };
    }
    """
    fns = run_program(code)
    assert fns["outer"]() == 42
    c = fns["counter"]()
    assert c() == 1 and c() == 2


def test_arrow_functions_and_callbacks():
    assert run_expr("((a, b) => a + b)(2, 3)") == 5
    assert run_expr("(x => x * 2)(21)") == 42


def test_missing_args_are_undefined():
    code = "function f(a, b) { return b === undefined; }"
    assert run_program(code)["f"](1) is True


# -- errors ----------------------------------------------------------------

def test_reference_error_names_the_variable():
    # transform_test.go:34-52: undefined name must raise, naming it
    fns = run_program(
        "function transform_entities(entities) { return missing_var; }")
    with pytest.raises(JSError, match="missing_var"):
        fns["transform_entities"]([])


def test_throw_and_try_catch():
    body = """
    try {
        throw new Error("boom");
    } catch (e) {
        return "caught:" + e.message;
    }
    """
    assert run_body(body) == "caught:boom"
    with pytest.raises(JSThrown, match="unhandled"):
        run_body("throw new Error('unhandled');")


def test_try_finally_without_catch_rethrows():
    # try/finally (no catch) must run the finalizer AND re-raise — a
    # transform relying on an error escaping a cleanup block must not
    # silently continue (goja/ECMA semantics).
    body = """
    var log = [];
    function inner() {
        try { throw new Error("escape"); }
        finally { log.push("cleaned"); }
        return 1;
    }
    try { inner(); } catch (e) { return log[0] + ":" + e.message; }
    return "not-thrown";
    """
    assert run_body(body) == "cleaned:escape"
    with pytest.raises(JSThrown, match="escape"):
        run_body("try { throw new Error('escape'); } finally { var x = 1; }")


def test_try_finally_with_catch_suppresses():
    body = """
    var out = "";
    try { throw new Error("x"); }
    catch (e) { out = "caught"; }
    finally { out = out + "+final"; }
    return out;
    """
    assert run_body(body) == "caught+final"


def test_typeof():
    assert run_expr("typeof 'x'") == "string"
    assert run_expr("typeof 1") == "number"
    assert run_expr("typeof undefined") == "undefined"
    assert run_expr("typeof null") == "object"
    assert run_expr("typeof {}") == "object"
    assert run_expr("typeof undeclared_name") == "undefined"


# -- stdlib ----------------------------------------------------------------

def test_json_and_math_and_number():
    assert run_expr("JSON.stringify({a: [1, 'x']})") == '{"a":[1,"x"]}'
    assert run_expr("JSON.parse('{\"n\": 3}').n") == 3
    assert run_expr("Math.floor(2.7)") == 2
    assert run_expr("Math.max(1, 5, 3)") == 5
    assert run_expr("Math.round(2.5)") == 3
    assert run_expr("parseInt('42abc')") == 42
    assert run_expr("parseFloat('2.5x')") == 2.5
    assert run_expr("Number('7')") == 7
    assert run_expr("Number.isInteger(3)") is True
    assert run_expr("(3.14159).toFixed(2)") == "3.14"


# -- regex -----------------------------------------------------------------

def test_regex_literals():
    assert run_expr("/ab+c/.test('xabbc')") is True
    assert run_expr("/ab+c/.test('ac')") is False
    assert run_expr("/a(b)(c)/.exec('zabc')") == ["abc", "b", "c"]
    assert run_expr("/nope/.exec('zzz')") is None
    assert run_expr("/A/i.test('a')") is True
    assert run_expr("'a-b-c'.replace(/-/g, '_')") == "a_b_c"
    assert run_expr("'a-b-c'.replace(/-/, '_')") == "a_b-c"  # non-global: first only
    assert run_expr("'john smith'.replace(/(\\w+) (\\w+)/, '$2 $1')") == \
        "smith john"
    assert run_expr("'a1b22c'.match(/\\d+/g)") == ["1", "22"]
    assert run_expr("'xyz'.match(/\\d/g)") is None
    assert run_expr("'a1b'.search(/\\d/)") == 1
    assert run_expr("'a, b,c'.split(/,\\s*/)") == ["a", "b", "c"]
    assert run_expr("new RegExp('b.', 'g').test('abc')") is True


def test_regex_vs_division_disambiguation():
    assert run_expr("10 / 2 / 5") == 1  # both are division
    assert run_body(
        "var n = 6; return n / 2 + ' ' + /x/.test('x');") == "3 true"


def test_regex_replace_with_function():
    body = """
    return 'a1b2'.replace(/\\d/g, function(m) { return m * 2; });
    """
    assert run_body(body) == "a2b4"


# -- host interop ----------------------------------------------------------

def test_host_functions_and_shared_dicts():
    seen = []
    host = {
        "Capture": seen.append,
        "MakePair": lambda a, b: [a, b],
        "config": {"limit": 3},
    }
    code = """
    function go(entity) {
        Capture(entity.Properties["x"]);
        entity.Properties["y"] = MakePair(1, config.limit);
        return entity;
    }
    """
    fns = run_program(code, host)
    ent = {"Properties": {"x": "hello"}}
    out = fns["go"](ent)
    assert seen == ["hello"]
    assert out is ent                       # same dict, mutated in place
    assert ent["Properties"]["y"] == [1, 3]


def test_undefined_to_host_becomes_none():
    got = []
    host = {"Take": lambda v: got.append(v)}
    run_program("function f() { Take(undefined); } ", host)["f"]()
    assert got == [None]

