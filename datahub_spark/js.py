"""Minimal JavaScript interpreter for the reference's JavascriptTransform
dialect (internal/jobs/transform.go:236-263 runs user ES5/ES6 in a goja
sandbox; every non-trivial reference job config carries such a script —
transform_test.go, pipeline_test.go).

This is NOT a general JS engine. It is a tokenizer + recursive-descent
parser + tree-walking evaluator for the subset those transforms actually
use: function declarations, var/let/const (with array destructuring),
if/else, for(;;) / for-of / for-in / while / do-while, break/continue,
return, throw/try/catch, the full expression grammar (ternary, logical,
equality/relational, arithmetic, unary, ++/--, compound assignment,
template literals, arrow functions, array/object literals, member access,
delete, typeof, new), and a small standard library (String/Array methods,
Object.keys/values/entries/assign, JSON, Math, parseInt/parseFloat,
Array.isArray, console.log).

Why an interpreter and not a JS runtime such as ``node``: the sandbox.
The reference runs user scripts in goja, which has no I/O; an
interpreter that knows only the transform vocabulary is the same kind of
sandbox by construction — a script reaches no file, socket or process
the host built-ins do not hand it. ``node`` has no such mode for user
code: a script in a ``vm`` context reaches the host ``process`` through
``this.constructor.constructor`` and can open connections. The transform
dialect is tiny, and the scale-relevant execution model is unchanged
(scripts run batch-at-a-time inside mapInPandas, script.py). Entities are plain Python dicts
({ID, Properties, References, ...}), so the host vocabulary
(script.make_builtins) binds verbatim: JS member access /
subscripting reads and mutates those dicts directly, which is exactly how
goja exposes Go maps to user code.

Deliberate deviations from full ECMAScript, all irrelevant to the
transform dialect and documented here so they are loud:
  * null and undefined are distinct (None vs UNDEFINED sentinel) with
    correct ==/=== behavior, but there is no prototype chain, no `this`
    binding beyond method receivers, no closures-capture-by-reference
    edge cases beyond ordinary lexical scoping.
  * numbers are Python int/float; `/` always float-divides (JS), `%`
    keeps JS sign semantics; int results are printed without ".0"
    (goja's int64 behavior, transform_test.go:71-111 relies on number
    round-tripping).
  * regex literals are supported (JSRegExp over Python re: test/exec,
    String.match/replace/split/search, g/i/m/s flags, named groups);
    getter/setter properties, classes, generators, and async are not
    and raise JSError at parse time.
"""

from __future__ import annotations

import json as _json
import math as _math
import re


class JSError(Exception):
    """Parse or runtime error inside user transform JS."""


class _Undefined:
    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "undefined"

    def __bool__(self):
        return False


UNDEFINED = _Undefined()


# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_KEYWORDS = {
    "var", "let", "const", "function", "return", "if", "else", "for", "of",
    "in", "while", "do", "break", "continue", "true", "false", "null",
    "undefined", "new", "delete", "typeof", "throw", "try", "catch",
    "finally", "instanceof", "switch", "case", "default",
}

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
  | (?P<num>0[xX][0-9a-fA-F]+|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)
  | (?P<name>[A-Za-z_$][A-Za-z0-9_$]*)
  | (?P<tmpl>`(?:\\.|[^`\\])*`)
  | (?P<str>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<punct>===|!==|==|!=|<=|>=|&&|\|\||\?\?|\+\+|--|\+=|-=|\*=|/=|%=|=>|
      [{}()\[\];,<>+\-*/%!?:=.&|~^])
    """,
    re.VERBOSE | re.DOTALL,
)

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
            "v": "\v", "0": "\0", "\n": ""}


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n == "u" and i + 5 < len(s):
                out.append(chr(int(s[i + 2:i + 6], 16)))
                i += 6
                continue
            if n == "x" and i + 3 < len(s):
                out.append(chr(int(s[i + 2:i + 4], 16)))
                i += 4
                continue
            out.append(_ESCAPES.get(n, n))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


class _Tok:
    __slots__ = ("kind", "value", "line")

    def __init__(self, kind, value, line):
        self.kind = kind
        self.value = value
        self.line = line

    def __repr__(self):
        return f"{self.kind}:{self.value!r}"


_REGEX_RE = re.compile(r"/(?:\\.|\[(?:\\.|[^\]\\])*\]|[^/\\\n])+/[a-z]*")


def _tokenize(src: str) -> list[_Tok]:
    toks, pos, line = [], 0, 1
    while pos < len(src):
        # regex literal vs division: a '/' starts a regex iff the
        # previous significant token cannot end an operand
        if src[pos] == "/" and not src.startswith(("//", "/*"), pos):
            prev = toks[-1] if toks else None
            operand_before = prev is not None and (
                prev.kind in ("num", "str", "tmpl", "regex")
                or (prev.kind == "name")
                or (prev.kind == "kw" and prev.value in
                    ("true", "false", "null", "undefined"))
                or (prev.kind == "punct" and prev.value in (")", "]", "++", "--"))
            )
            if not operand_before:
                m = _REGEX_RE.match(src, pos)
                if m:
                    toks.append(_Tok("regex", m.group(0), line))
                    pos = m.end()
                    continue
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise JSError(f"unexpected character {src[pos]!r} at line {line}")
        text = m.group(0)
        line += text.count("\n")
        if m.lastgroup == "ws":
            pos = m.end()
            continue
        kind = m.lastgroup
        if kind == "name" and text in _KEYWORDS:
            kind = "kw"
        toks.append(_Tok(kind, text, line))
        pos = m.end()
    toks.append(_Tok("eof", "", line))
    return toks


# --------------------------------------------------------------------------
# parser — AST as ("Type", ...) tuples
# --------------------------------------------------------------------------

_ASSIGN_OPS = {"=", "+=", "-=", "*=", "/=", "%="}


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    # -- token helpers ----------------------------------------------------
    def peek(self, k=0) -> _Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def at(self, value: str) -> bool:
        t = self.peek()
        return t.value == value and t.kind in ("punct", "kw")

    def eat(self, value: str) -> bool:
        if self.at(value):
            self.next()
            return True
        return False

    def expect(self, value: str) -> _Tok:
        t = self.next()
        if t.value != value:
            raise JSError(
                f"expected {value!r}, got {t.value!r} at line {t.line}")
        return t

    # -- program ----------------------------------------------------------
    def parse_program(self):
        body = []
        while self.peek().kind != "eof":
            body.append(self.statement())
        return ("Program", body)

    # -- statements -------------------------------------------------------
    def statement(self):
        t = self.peek()
        if t.kind == "punct" and t.value == "{":
            return self.block()
        if t.kind == "punct" and t.value == ";":
            self.next()
            return ("Empty",)
        if t.kind == "kw":
            v = t.value
            if v in ("var", "let", "const"):
                decl = self.var_decl()
                self.eat(";")
                return decl
            if v == "function":
                return self.function_decl()
            if v == "if":
                return self.if_stmt()
            if v == "for":
                return self.for_stmt()
            if v == "while":
                self.next()
                self.expect("(")
                cond = self.expression()
                self.expect(")")
                return ("While", cond, self.statement())
            if v == "do":
                self.next()
                body = self.statement()
                self.expect("while")
                self.expect("(")
                cond = self.expression()
                self.expect(")")
                self.eat(";")
                return ("DoWhile", body, cond)
            if v == "return":
                self.next()
                if self.at(";") or self.at("}"):
                    self.eat(";")
                    return ("Return", None)
                e = self.expression()
                self.eat(";")
                return ("Return", e)
            if v == "break":
                self.next()
                self.eat(";")
                return ("Break",)
            if v == "continue":
                self.next()
                self.eat(";")
                return ("Continue",)
            if v == "throw":
                self.next()
                e = self.expression()
                self.eat(";")
                return ("Throw", e)
            if v == "try":
                return self.try_stmt()
            if v == "switch":
                return self.switch_stmt()
        e = self.expression()
        self.eat(";")
        return ("ExprStmt", e)

    def block(self):
        self.expect("{")
        body = []
        while not self.at("}"):
            body.append(self.statement())
        self.expect("}")
        return ("Block", body)

    def var_decl(self):
        kind = self.next().value  # var/let/const
        decls = []
        while True:
            if self.at("["):  # array destructuring: let [a, b] = ...
                self.next()
                names = []
                while not self.at("]"):
                    names.append(self.next().value)
                    if not self.eat(","):
                        break
                self.expect("]")
                self.expect("=")
                decls.append(("destructure", names, self.assignment()))
            else:
                name = self.next()
                if name.kind != "name":
                    raise JSError(
                        f"bad declaration name {name.value!r} line {name.line}")
                init = self.assignment() if self.eat("=") else None
                decls.append(("one", name.value, init))
            if not self.eat(","):
                break
        return ("VarDecl", kind, decls)

    def function_decl(self):
        self.expect("function")
        name = self.next().value
        params, body = self._fn_rest()
        return ("FuncDecl", name, params, body)

    def _fn_rest(self):
        self.expect("(")
        params = []
        while not self.at(")"):
            params.append(self.next().value)
            if not self.eat(","):
                break
        self.expect(")")
        body = self.block()
        return params, body

    def if_stmt(self):
        self.expect("if")
        self.expect("(")
        cond = self.expression()
        self.expect(")")
        then = self.statement()
        other = None
        if self.eat("else"):
            other = self.statement()
        return ("If", cond, then, other)

    def for_stmt(self):
        self.expect("for")
        self.expect("(")
        # for (const [k, v] of X) / for (e of X) / for (let i=0;;) / for(i in X)
        init = None
        if self.at(";"):
            self.next()
        else:
            if self.peek().kind == "kw" and self.peek().value in (
                    "var", "let", "const"):
                kind = self.next().value
                if self.at("["):
                    self.next()
                    names = []
                    while not self.at("]"):
                        names.append(self.next().value)
                        if not self.eat(","):
                            break
                    self.expect("]")
                    opk = self.next().value  # of / in
                    it = self.expression()
                    self.expect(")")
                    return ("ForOf" if opk == "of" else "ForIn",
                            ("destructure", names), self.statement(), it)
                name = self.next().value
                if self.at("of") or self.at("in"):
                    opk = self.next().value
                    it = self.expression()
                    self.expect(")")
                    return ("ForOf" if opk == "of" else "ForIn",
                            ("one", name), self.statement(), it)
                init_expr = self.assignment() if self.eat("=") else None
                decls = [("one", name, init_expr)]
                while self.eat(","):
                    n2 = self.next().value
                    e2 = self.assignment() if self.eat("=") else None
                    decls.append(("one", n2, e2))
                init = ("VarDecl", kind, decls)
                self.expect(";")
            else:
                first = self.expression()
                if self.at("of") or self.at("in"):
                    opk = self.next().value
                    if first[0] != "Name":
                        raise JSError("bad for-of/in target")
                    it = self.expression()
                    self.expect(")")
                    return ("ForOf" if opk == "of" else "ForIn",
                            ("one", first[1]), self.statement(), it)
                init = ("ExprStmt", first)
                self.expect(";")
        cond = None if self.at(";") else self.expression()
        self.expect(";")
        update = None if self.at(")") else self.expression()
        self.expect(")")
        return ("For", init, cond, update, self.statement())

    def switch_stmt(self):
        self.expect("switch")
        self.expect("(")
        disc = self.expression()
        self.expect(")")
        self.expect("{")
        cases = []  # (test_expr_or_None_for_default, [stmts])
        while not self.at("}"):
            if self.eat("case"):
                test = self.expression()
            else:
                self.expect("default")
                test = None
            self.expect(":")
            body = []
            while not (self.at("case") or self.at("default") or self.at("}")):
                body.append(self.statement())
            cases.append((test, body))
        self.expect("}")
        return ("Switch", disc, cases)

    def try_stmt(self):
        self.expect("try")
        block = self.block()
        handler = None
        finalizer = None
        if self.eat("catch"):
            name = None
            if self.eat("("):
                name = self.next().value
                self.expect(")")
            handler = (name, self.block())
        if self.eat("finally"):
            finalizer = self.block()
        return ("Try", block, handler, finalizer)

    # -- expressions (precedence climbing) --------------------------------
    def expression(self):
        e = self.assignment()
        while self.eat(","):
            e = ("Seq", e, self.assignment())
        return e

    def assignment(self):
        left = self.ternary()
        t = self.peek()
        if t.kind == "punct" and t.value in _ASSIGN_OPS:
            op = self.next().value
            right = self.assignment()
            if left[0] not in ("Name", "Member"):
                raise JSError(f"invalid assignment target at line {t.line}")
            return ("Assign", op, left, right)
        return left

    def ternary(self):
        cond = self.nullish()
        if self.eat("?"):
            then = self.assignment()
            self.expect(":")
            other = self.assignment()
            return ("Cond", cond, then, other)
        return cond

    def nullish(self):
        e = self.logic_or()
        while self.eat("??"):
            e = ("Nullish", e, self.logic_or())
        return e

    def logic_or(self):
        e = self.logic_and()
        while self.eat("||"):
            e = ("Or", e, self.logic_and())
        return e

    def logic_and(self):
        e = self.equality()
        while self.eat("&&"):
            e = ("And", e, self.equality())
        return e

    def equality(self):
        e = self.relational()
        while self.peek().value in ("==", "!=", "===", "!==") and \
                self.peek().kind == "punct":
            op = self.next().value
            e = ("Bin", op, e, self.relational())
        return e

    def relational(self):
        e = self.additive()
        while (self.peek().kind == "punct" and
               self.peek().value in ("<", ">", "<=", ">=")) or \
                (self.peek().kind == "kw" and
                 self.peek().value in ("instanceof",)):
            op = self.next().value
            e = ("Bin", op, e, self.additive())
        return e

    def additive(self):
        e = self.multiplicative()
        while self.peek().kind == "punct" and self.peek().value in ("+", "-"):
            op = self.next().value
            e = ("Bin", op, e, self.multiplicative())
        return e

    def multiplicative(self):
        e = self.unary()
        while self.peek().kind == "punct" and \
                self.peek().value in ("*", "/", "%"):
            op = self.next().value
            e = ("Bin", op, e, self.unary())
        return e

    def unary(self):
        t = self.peek()
        if t.kind == "punct" and t.value in ("!", "-", "+", "~"):
            self.next()
            return ("Unary", t.value, self.unary())
        if t.kind == "punct" and t.value in ("++", "--"):
            self.next()
            return ("Update", t.value, self.unary(), True)
        if t.kind == "kw" and t.value in ("typeof", "delete"):
            self.next()
            return ("Unary", t.value, self.unary())
        if t.kind == "kw" and t.value == "new":
            self.next()
            callee = self.postfix(no_call=True)
            args = []
            if self.eat("("):
                while not self.at(")"):
                    args.append(self.assignment())
                    if not self.eat(","):
                        break
                self.expect(")")
            # the constructed object continues the postfix chain:
            # new RegExp(p).test(s), new Foo().bar[0], ...
            return self.postfix(seed=("New", callee, args))
        return self.postfix()

    def postfix(self, no_call: bool = False, seed=None):
        e = self.primary() if seed is None else seed
        while True:
            t = self.peek()
            if t.kind != "punct":
                break
            if t.value == ".":
                self.next()
                e = ("Member", e, ("Str", self.next().value), False)
            elif t.value == "[":
                self.next()
                idx = self.expression()
                self.expect("]")
                e = ("Member", e, idx, True)
            elif t.value == "(" and not no_call:
                self.next()
                args = []
                while not self.at(")"):
                    args.append(self.assignment())
                    if not self.eat(","):
                        break
                self.expect(")")
                e = ("Call", e, args)
            elif t.value in ("++", "--"):
                self.next()
                e = ("Update", t.value, e, False)
            else:
                break
        return e

    def primary(self):
        t = self.next()
        if t.kind == "num":
            if t.value.lower().startswith("0x"):
                return ("Num", int(t.value, 16))
            if "." in t.value or "e" in t.value.lower():
                return ("Num", float(t.value))
            return ("Num", int(t.value))
        if t.kind == "str":
            return ("Str", _unescape(t.value[1:-1]))
        if t.kind == "tmpl":
            return self._template(t.value[1:-1])
        if t.kind == "regex":
            return ("Regex", t.value)
        if t.kind == "kw":
            if t.value == "true":
                return ("Bool", True)
            if t.value == "false":
                return ("Bool", False)
            if t.value == "null":
                return ("Null",)
            if t.value == "undefined":
                return ("Undef",)
            if t.value == "function":
                name = None
                if self.peek().kind == "name":
                    name = self.next().value
                params, body = self._fn_rest()
                return ("FuncExpr", name, params, body)
            raise JSError(f"unexpected keyword {t.value!r} at line {t.line}")
        if t.kind == "name":
            # arrow: name => expr
            if self.at("=>"):
                self.next()
                return self._arrow_body([t.value])
            return ("Name", t.value)
        if t.kind == "punct":
            if t.value == "(":
                # arrow: (a, b) => ... — lookahead for ) followed by =>
                start = self.i
                if self._looks_like_arrow():
                    params = []
                    while not self.at(")"):
                        params.append(self.next().value)
                        if not self.eat(","):
                            break
                    self.expect(")")
                    self.expect("=>")
                    return self._arrow_body(params)
                self.i = start
                e = self.expression()
                self.expect(")")
                return e
            if t.value == "[":
                items = []
                while not self.at("]"):
                    items.append(self.assignment())
                    if not self.eat(","):
                        break
                self.expect("]")
                return ("Array", items)
            if t.value == "{":
                pairs = []
                while not self.at("}"):
                    kt = self.next()
                    if kt.kind == "punct" and kt.value == "[":
                        key = ("expr", self.assignment())
                        self.expect("]")
                    elif kt.kind == "str":
                        key = ("const", _unescape(kt.value[1:-1]))
                    else:
                        key = ("const", kt.value)
                    if self.eat(":"):
                        val = self.assignment()
                    else:  # shorthand {a}
                        val = ("Name", kt.value)
                    pairs.append((key, val))
                    if not self.eat(","):
                        break
                self.expect("}")
                return ("Object", pairs)
        raise JSError(f"unexpected token {t.value!r} at line {t.line}")

    def _looks_like_arrow(self) -> bool:
        """At the token after '(' — scan for matching ')' then '=>', only
        simple parameter names allowed."""
        j = self.i
        depth = 0
        while j < len(self.toks):
            v = self.toks[j].value
            k = self.toks[j].kind
            if v == ")" and depth == 0:
                return (j + 1 < len(self.toks) and
                        self.toks[j + 1].value == "=>")
            if k not in ("name",) and v != ",":
                return False
            j += 1
        return False

    def _arrow_body(self, params):
        if self.at("{"):
            return ("FuncExpr", None, params, self.block())
        return ("FuncExpr", None, params,
                ("Block", [("Return", self.assignment())]))

    def _template(self, raw: str):
        """`a ${x} b` -> string-concat expression tree."""
        parts = []
        buf, i = [], 0
        while i < len(raw):
            if raw[i] == "\\" and i + 1 < len(raw):
                buf.append(_ESCAPES.get(raw[i + 1], raw[i + 1]))
                i += 2
            elif raw.startswith("${", i):
                j, depth = i + 2, 1
                while j < len(raw) and depth:
                    if raw[j] == "{":
                        depth += 1
                    elif raw[j] == "}":
                        depth -= 1
                    j += 1
                if buf:
                    parts.append(("Str", "".join(buf)))
                    buf = []
                sub = _Parser(_tokenize(raw[i + 2:j - 1]))
                parts.append(("TmplExpr", sub.expression()))
                i = j
            else:
                buf.append(raw[i])
                i += 1
        if buf:
            parts.append(("Str", "".join(buf)))
        if not parts:
            return ("Str", "")
        e = None
        for p in parts:
            e = p if e is None else ("Bin", "+", e, ("ToStr", p))
        if e[0] == "TmplExpr":
            e = ("Bin", "+", ("Str", ""), e)
        return e


# --------------------------------------------------------------------------
# runtime values
# --------------------------------------------------------------------------

class _Env:
    __slots__ = ("vars", "parent")

    def __init__(self, parent=None):
        self.vars: dict = {}
        self.parent = parent

    def get(self, name):
        e = self
        while e is not None:
            if name in e.vars:
                return e.vars[name]
            e = e.parent
        raise JSError(f"ReferenceError: {name} is not defined")

    def set(self, name, value):
        e = self
        while e is not None:
            if name in e.vars:
                e.vars[name] = value
                return
            e = e.parent
        # JS non-strict: assignment to undeclared name creates a global;
        # walk back to root
        e = self
        while e.parent is not None:
            e = e.parent
        e.vars[name] = value

    def declare(self, name, value):
        self.vars[name] = value


class JSFunction:
    __slots__ = ("name", "params", "body", "env", "interp")

    def __init__(self, name, params, body, env, interp):
        self.name = name or "<anonymous>"
        self.params = params
        self.body = body
        self.env = env
        self.interp = interp

    def __call__(self, *args):
        env = _Env(self.env)
        for i, p in enumerate(self.params):
            env.declare(p, args[i] if i < len(args) else UNDEFINED)
        env.declare("arguments", list(args))
        try:
            self.interp.exec_block(self.body, env)
        except _ReturnSignal as r:
            return r.value
        return UNDEFINED


class _ReturnSignal(Exception):
    def __init__(self, value):
        self.value = value


class _BreakSignal(Exception):
    pass


class _ContinueSignal(Exception):
    pass


class JSRegExp:
    """JS regex literal / RegExp object over Python ``re``. The dialect
    transforms use (character classes, groups, anchors, quantifiers,
    alternation, i/m/s/g flags) maps directly; JS named groups
    ``(?<n>...)`` translate to Python's ``(?P<n>...)``."""

    def __init__(self, pattern: str, flags: str = ""):
        self.source = pattern
        self.flags = flags
        self.is_global = "g" in flags
        setattr(self, "global", self.is_global)  # JS property name
        f = 0
        if "i" in flags:
            f |= re.IGNORECASE
        if "m" in flags:
            f |= re.MULTILINE
        if "s" in flags:
            f |= re.DOTALL
        py = re.sub(r"\(\?<(?![=!])", "(?P<", pattern)
        try:
            self._re = re.compile(py, f)
        except re.error as exc:
            raise JSError(f"invalid regular expression /{pattern}/: {exc}")

    @classmethod
    def from_literal(cls, text: str) -> "JSRegExp":
        body, _, flags = text.rpartition("/")
        return cls(body[1:], flags)

    def test(self, s) -> bool:
        return self._re.search(js_to_string(s)) is not None

    def exec(self, s):
        m = self._re.search(js_to_string(s))
        if m is None:
            return None
        return [m.group(0)] + [g if g is not None else UNDEFINED
                               for g in m.groups()]

    def toString(self):
        return f"/{self.source}/{self.flags}"

    def _sub_repl(self, rep):
        """JS replacement-string conventions -> python: $& whole match,
        $1..$9 groups, $$ literal dollar."""
        if callable(rep):
            return lambda m: js_to_string(
                rep(m.group(0), *[g if g is not None else UNDEFINED
                                  for g in m.groups()]))
        text = js_to_string(rep)

        def repl(m):
            out, i = [], 0
            while i < len(text):
                c = text[i]
                if c == "$" and i + 1 < len(text):
                    n = text[i + 1]
                    if n == "$":
                        out.append("$")
                        i += 2
                        continue
                    if n == "&":
                        out.append(m.group(0))
                        i += 2
                        continue
                    if n.isdigit():
                        j = int(n)
                        if j <= len(m.groups()):
                            out.append(m.group(j) or "")
                            i += 2
                            continue
                out.append(c)
                i += 1
            return "".join(out)

        return repl


class JSThrown(JSError):
    """A JS `throw` propagating out of the script."""

    def __init__(self, value):
        self.value = value
        if isinstance(value, dict) and "message" in value:
            msg = f"{value.get('name', 'Error')}: {value['message']}"
        else:
            msg = js_to_string(value)
        super().__init__(msg)


# --------------------------------------------------------------------------
# coercions (the subset of the ECMA abstract ops the dialect needs)
# --------------------------------------------------------------------------

def truthy(v) -> bool:
    if v is None or v is UNDEFINED or v is False:
        return False
    if v is True:
        return True
    if isinstance(v, (int, float)):
        return v != 0 and v == v  # NaN falsy
    if isinstance(v, str):
        return len(v) > 0
    return True  # objects/arrays/functions


def js_to_string(v) -> str:
    if v is UNDEFINED:
        return "undefined"
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == _math.inf:
            return "Infinity"
        if v == -_math.inf:
            return "-Infinity"
        if v == int(v) and abs(v) < 1e21:
            return str(int(v))  # goja/JS: integral floats print bare
        return repr(v)
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, list):
        return ",".join("" if x is None or x is UNDEFINED
                        else js_to_string(x) for x in v)
    if isinstance(v, dict):
        return "[object Object]"
    if callable(v):
        return f"function {getattr(v, 'name', v.__name__ if hasattr(v, '__name__') else '')}"
    return str(v)


def js_to_number(v):
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, (int, float)):
        return v
    if v is None:
        return 0
    if v is UNDEFINED:
        return _math.nan
    if isinstance(v, str):
        s = v.strip()
        if not s:
            return 0
        try:
            if s.lower().startswith("0x"):
                return int(s, 16)
            f = float(s)
            return int(f) if f == int(f) and "." not in s and \
                "e" not in s.lower() else f
        except ValueError:
            return _math.nan
    return _math.nan


def _num_is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def js_equals_loose(a, b) -> bool:
    # null == undefined (and nothing else)
    if (a is None or a is UNDEFINED) or (b is None or b is UNDEFINED):
        return (a is None or a is UNDEFINED) and (b is None or b is UNDEFINED)
    if isinstance(a, bool) or isinstance(b, bool):
        return js_to_number(a) == js_to_number(b)
    if isinstance(a, (int, float)) and isinstance(b, str):
        return not _num_is_nan(js_to_number(b)) and a == js_to_number(b)
    if isinstance(a, str) and isinstance(b, (int, float)):
        return not _num_is_nan(js_to_number(a)) and js_to_number(a) == b
    if isinstance(a, (dict, list)) or isinstance(b, (dict, list)):
        return a is b
    return a == b


def js_equals_strict(a, b) -> bool:
    if a is UNDEFINED or b is UNDEFINED:
        return a is b
    if a is None or b is None:
        return a is b
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a == b and not (_num_is_nan(a) or _num_is_nan(b))
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    return a is b


def js_add(a, b):
    if isinstance(a, str) or isinstance(b, str) or \
            isinstance(a, (list, dict)) or isinstance(b, (list, dict)):
        return js_to_string(a) + js_to_string(b)
    x, y = js_to_number(a), js_to_number(b)
    r = x + y
    return r


def _js_mod(x, y):
    # JS %: sign follows the DIVIDEND (Python's follows the divisor)
    if y == 0:
        return _math.nan
    return _math.fmod(x, y) if isinstance(x, float) or isinstance(y, float) \
        else int(_math.fmod(x, y))


# --------------------------------------------------------------------------
# standard library (method dispatch on str / list / dict receivers)
# --------------------------------------------------------------------------

def _arr_sort(arr, cmp=None):
    if cmp is None:
        arr.sort(key=js_to_string)
    else:
        import functools
        arr.sort(key=functools.cmp_to_key(
            lambda a, b: (lambda r: -1 if js_to_number(r) < 0 else
                          (1 if js_to_number(r) > 0 else 0))(cmp(a, b))))
    return arr


def _string_method(s: str, name: str):
    simple = {
        "toLowerCase": lambda: s.lower(),
        "toUpperCase": lambda: s.upper(),
        "trim": lambda: s.strip(),
        "trimStart": lambda: s.lstrip(),
        "trimEnd": lambda: s.rstrip(),
    }
    if name in simple:
        return lambda: simple[name]()
    if name == "substring":
        def substring(a=0, b=None):
            a = max(0, min(len(s), int(js_to_number(a))))
            b = len(s) if b is None or b is UNDEFINED else \
                max(0, min(len(s), int(js_to_number(b))))
            if a > b:
                a, b = b, a
            return s[a:b]
        return substring
    if name == "slice":
        def _slice(a=0, b=None):
            a = int(js_to_number(a))
            b = None if b is None or b is UNDEFINED else int(js_to_number(b))
            return s[a:b] if b is not None else s[a:]
        return _slice
    if name == "charAt":
        return lambda i=0: s[int(js_to_number(i))] \
            if 0 <= int(js_to_number(i)) < len(s) else ""
    if name == "charCodeAt":
        return lambda i=0: ord(s[int(js_to_number(i))]) \
            if 0 <= int(js_to_number(i)) < len(s) else _math.nan
    if name == "indexOf":
        return lambda sub, start=0: s.find(js_to_string(sub),
                                           int(js_to_number(start)))
    if name == "lastIndexOf":
        return lambda sub: s.rfind(js_to_string(sub))
    if name == "includes":
        return lambda sub: js_to_string(sub) in s
    if name == "startsWith":
        return lambda sub, start=0: s.startswith(js_to_string(sub),
                                                 int(js_to_number(start)))
    if name == "endsWith":
        return lambda sub: s.endswith(js_to_string(sub))
    if name == "split":
        def split(sep=UNDEFINED, limit=None):
            if sep is UNDEFINED:
                return [s]
            if isinstance(sep, JSRegExp):
                parts = sep._re.split(s)
            else:
                sep = js_to_string(sep)
                parts = list(s) if sep == "" else s.split(sep)
            return parts[:int(js_to_number(limit))] if limit is not None \
                else parts
        return split
    if name == "replace":
        def replace(pat, rep):
            if isinstance(pat, JSRegExp):
                return pat._re.sub(pat._sub_repl(rep), s,
                                   count=0 if pat.is_global else 1)
            return s.replace(js_to_string(pat), js_to_string(rep), 1)
        return replace
    if name == "replaceAll":
        def replace_all(pat, rep):
            if isinstance(pat, JSRegExp):
                return pat._re.sub(pat._sub_repl(rep), s)
            return s.replace(js_to_string(pat), js_to_string(rep))
        return replace_all
    if name == "match":
        def match(r):
            r = r if isinstance(r, JSRegExp) else JSRegExp(js_to_string(r))
            if r.is_global:
                return [m.group(0) for m in r._re.finditer(s)] or None
            return r.exec(s)
        return match
    if name == "search":
        def search(r):
            r = r if isinstance(r, JSRegExp) else JSRegExp(js_to_string(r))
            m = r._re.search(s)
            return m.start() if m else -1
        return search
    if name == "concat":
        return lambda *a: s + "".join(js_to_string(x) for x in a)
    if name == "repeat":
        return lambda n: s * int(js_to_number(n))
    if name == "padStart":
        return lambda n, pad=" ": s.rjust(int(js_to_number(n)),
                                          js_to_string(pad)[0] or " ") \
            if len(js_to_string(pad)) else s
    if name == "padEnd":
        return lambda n, pad=" ": s.ljust(int(js_to_number(n)),
                                          js_to_string(pad)[0] or " ") \
            if len(js_to_string(pad)) else s
    if name == "toString":
        return lambda: s
    return None


def _array_method(arr: list, name: str):
    if name == "push":
        def push(*items):
            arr.extend(items)
            return len(arr)
        return push
    if name == "pop":
        return lambda: arr.pop() if arr else UNDEFINED
    if name == "shift":
        return lambda: arr.pop(0) if arr else UNDEFINED
    if name == "unshift":
        def unshift(*items):
            arr[0:0] = items
            return len(arr)
        return unshift
    if name == "indexOf":
        def index_of(x):
            for i, v in enumerate(arr):
                if js_equals_strict(v, x):
                    return i
            return -1
        return index_of
    if name == "includes":
        return lambda x: any(js_equals_strict(v, x) for v in arr)
    if name == "join":
        return lambda sep=",": js_to_string(sep).join(
            "" if v is None or v is UNDEFINED else js_to_string(v)
            for v in arr)
    if name == "map":
        return lambda fn: [fn(v, i) if _arity(fn) >= 2 else fn(v)
                           for i, v in enumerate(arr)]
    if name == "filter":
        return lambda fn: [v for i, v in enumerate(arr)
                           if truthy(fn(v, i) if _arity(fn) >= 2 else fn(v))]
    if name == "forEach":
        def for_each(fn):
            for i, v in enumerate(arr):
                fn(v, i) if _arity(fn) >= 2 else fn(v)
            return UNDEFINED
        return for_each
    if name == "find":
        def find(fn):
            for i, v in enumerate(arr):
                if truthy(fn(v, i) if _arity(fn) >= 2 else fn(v)):
                    return v
            return UNDEFINED
        return find
    if name == "findIndex":
        def find_index(fn):
            for i, v in enumerate(arr):
                if truthy(fn(v, i) if _arity(fn) >= 2 else fn(v)):
                    return i
            return -1
        return find_index
    if name == "some":
        return lambda fn: any(truthy(fn(v)) for v in arr)
    if name == "every":
        return lambda fn: all(truthy(fn(v)) for v in arr)
    if name == "reduce":
        def reduce(fn, *init):
            it = iter(enumerate(arr))
            if init:
                acc = init[0]
            else:
                try:
                    _, acc = next(it)
                except StopIteration:
                    raise JSError("Reduce of empty array with no initial value")
            for i, v in it:
                acc = fn(acc, v, i) if _arity(fn) >= 3 else fn(acc, v)
            return acc
        return reduce
    if name == "concat":
        def concat(*others):
            out = list(arr)
            for o in others:
                out.extend(o) if isinstance(o, list) else out.append(o)
            return out
        return concat
    if name == "slice":
        def _slice(a=0, b=None):
            a = int(js_to_number(a))
            b = None if b is None or b is UNDEFINED else int(js_to_number(b))
            return arr[a:b] if b is not None else arr[a:]
        return _slice
    if name == "splice":
        def splice(start, count=None, *items):
            start = int(js_to_number(start))
            if start < 0:
                start = max(0, len(arr) + start)
            count = len(arr) - start if count is None else \
                int(js_to_number(count))
            removed = arr[start:start + count]
            arr[start:start + count] = list(items)
            return removed
        return splice
    if name == "reverse":
        def reverse():
            arr.reverse()
            return arr
        return reverse
    if name == "sort":
        return lambda cmp=None: _arr_sort(arr, cmp)
    if name == "flat":
        def flat(depth=1):
            def go(a, d):
                out = []
                for v in a:
                    if isinstance(v, list) and d > 0:
                        out.extend(go(v, d - 1))
                    else:
                        out.append(v)
                return out
            return go(arr, int(js_to_number(depth)))
        return flat
    if name == "toString":
        return lambda: js_to_string(arr)
    return None


def _arity(fn) -> int:
    if isinstance(fn, JSFunction):
        return len(fn.params)
    try:
        import inspect
        return len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):
        return 1


def _mk_error(*args):
    return {"name": "Error",
            "message": js_to_string(args[0]) if args else ""}


def _std_globals():
    def _parse_int(s, radix=10):
        t = js_to_string(s).strip()
        radix = int(js_to_number(radix)) or 10
        sign = 1
        if t[:1] in "+-":
            sign = -1 if t[0] == "-" else 1
            t = t[1:]
        if radix in (10, 16) and t[:2].lower() == "0x":
            t, radix = t[2:], 16
        digits = "0123456789abcdefghijklmnopqrstuvwxyz"[:radix]
        i = 0
        while i < len(t) and t[i].lower() in digits:
            i += 1
        return sign * int(t[:i], radix) if i else _math.nan

    def _parse_float(s):
        m = re.match(r"\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?",
                     js_to_string(s))
        return float(m.group(0)) if m else _math.nan

    def _json_stringify(v, _replacer=None, indent=None):
        def clean(x):
            if x is UNDEFINED:
                return None
            if isinstance(x, dict):
                return {k: clean(val) for k, val in x.items()
                        if val is not UNDEFINED}
            if isinstance(x, list):
                return [clean(i) for i in x]
            if isinstance(x, float) and (x != x or abs(x) == _math.inf):
                return None
            return x
        if v is UNDEFINED:
            return UNDEFINED
        kw = {}
        if indent not in (None, UNDEFINED):
            kw["indent"] = int(js_to_number(indent)) \
                if not isinstance(indent, str) else indent
        return _json.dumps(clean(v), separators=(",", ":")
                           if not kw else (",", ": "), **kw)

    math_obj = {
        "floor": lambda x: int(_math.floor(js_to_number(x))),
        "ceil": lambda x: int(_math.ceil(js_to_number(x))),
        "round": lambda x: int(_math.floor(js_to_number(x) + 0.5)),
        "trunc": lambda x: int(js_to_number(x)),
        "abs": lambda x: abs(js_to_number(x)),
        "min": lambda *a: min(js_to_number(x) for x in a) if a else _math.inf,
        "max": lambda *a: max(js_to_number(x) for x in a) if a else -_math.inf,
        "pow": lambda x, y: js_to_number(x) ** js_to_number(y),
        "sqrt": lambda x: _math.sqrt(js_to_number(x)),
        "log": lambda x: _math.log(js_to_number(x)),
        "log2": lambda x: _math.log2(js_to_number(x)),
        "exp": lambda x: _math.exp(js_to_number(x)),
        "sign": lambda x: (0 if js_to_number(x) == 0 else
                           (1 if js_to_number(x) > 0 else -1)),
        "PI": _math.pi,
        "E": _math.e,
        # deterministic by design: transforms must be re-runnable; the
        # reference's UUID() host fn is the sanctioned randomness source
        "random": lambda: 0.5,
    }

    def _number(v=0):
        return js_to_number(v)

    number_obj_extras = {
        "isInteger": lambda v: isinstance(v, int) or
        (isinstance(v, float) and v == int(v)),
        "isFinite": lambda v: isinstance(v, (int, float)) and
        not _num_is_nan(v) and abs(js_to_number(v)) != _math.inf,
        "isNaN": _num_is_nan,
        "parseFloat": _parse_float,
        "parseInt": _parse_int,
        "MAX_SAFE_INTEGER": 2 ** 53 - 1,
        "MIN_SAFE_INTEGER": -(2 ** 53 - 1),
    }

    object_obj = {
        "keys": lambda o: list(o.keys()) if isinstance(o, dict) else
        ([str(i) for i in range(len(o))] if isinstance(o, list) else []),
        "values": lambda o: list(o.values()) if isinstance(o, dict) else
        (list(o) if isinstance(o, list) else []),
        "entries": lambda o: [[k, v] for k, v in o.items()]
        if isinstance(o, dict) else
        ([[str(i), v] for i, v in enumerate(o)] if isinstance(o, list)
         else []),
        "assign": lambda target, *srcs: (
            [target.update(s) for s in srcs if isinstance(s, dict)],
            target)[1],
        "freeze": lambda o: o,
    }

    array_obj = {
        "isArray": lambda v: isinstance(v, list),
        "from": lambda v, fn=None: [fn(x) if fn else x for x in
                                    (v if isinstance(v, list) else
                                     list(v) if isinstance(v, str) else [])],
        "of": lambda *a: list(a),
    }

    string_obj = {
        "fromCharCode": lambda *a: "".join(chr(int(js_to_number(x)))
                                           for x in a),
    }

    return {
        "Math": math_obj,
        "JSON": {"stringify": _json_stringify,
                 "parse": lambda s: _json.loads(js_to_string(s))},
        "Object": object_obj,
        "Array": array_obj,
        "String": string_obj,
        "Number": _number_callable(number_obj_extras),
        "Boolean": truthy,
        "parseInt": _parse_int,
        "parseFloat": _parse_float,
        "isNaN": lambda v: _num_is_nan(js_to_number(v)),
        "isFinite": lambda v: not _num_is_nan(js_to_number(v)) and
        abs(js_to_number(v)) != _math.inf,
        "NaN": _math.nan,
        "Infinity": _math.inf,
        "Error": _mk_error,
        "TypeError": _mk_error,
        "RangeError": _mk_error,
        "RegExp": lambda p, f=None: JSRegExp(
            p.source if isinstance(p, JSRegExp) else js_to_string(p),
            js_to_string(f) if f not in (None, UNDEFINED) else ""),
        "console": {"log": lambda *a: UNDEFINED,
                    "warn": lambda *a: UNDEFINED,
                    "error": lambda *a: UNDEFINED},
    }


class _CallableDict(dict):
    """Number is both callable (Number("3") -> 3) and a namespace
    (Number.isInteger)."""

    def __init__(self, fn, members):
        super().__init__(members)
        self._fn = fn

    def __call__(self, *a):
        return self._fn(*a)


def _number_callable(extras):
    return _CallableDict(lambda v=0: js_to_number(v), extras)


# --------------------------------------------------------------------------
# evaluator
# --------------------------------------------------------------------------

class Interpreter:
    def __init__(self, host: dict | None = None):
        self.globals = _Env()
        for k, v in _std_globals().items():
            self.globals.declare(k, v)
        for k, v in (host or {}).items():
            self.globals.declare(k, _wrap_host(v))

    # -- statements -------------------------------------------------------
    def run(self, program) -> None:
        # hoist function declarations (JS semantics: call-before-define)
        for st in program[1]:
            if st[0] == "FuncDecl":
                self.globals.declare(
                    st[1], JSFunction(st[1], st[2], st[3], self.globals, self))
        for st in program[1]:
            if st[0] != "FuncDecl":
                self.exec_stmt(st, self.globals)

    def exec_block(self, block, env) -> None:
        # hoist nested function declarations within the block
        for st in block[1]:
            if st[0] == "FuncDecl":
                env.declare(st[1],
                            JSFunction(st[1], st[2], st[3], env, self))
        for st in block[1]:
            if st[0] != "FuncDecl":
                self.exec_stmt(st, env)

    def exec_stmt(self, st, env) -> None:
        op = st[0]
        if op == "ExprStmt":
            self.eval(st[1], env)
        elif op == "VarDecl":
            for d in st[2]:
                if d[0] == "one":
                    env.declare(d[1], UNDEFINED if d[2] is None
                                else self.eval(d[2], env))
                else:  # destructure
                    val = self.eval(d[2], env)
                    for i, n in enumerate(d[1]):
                        env.declare(n, val[i] if isinstance(val, list) and
                                    i < len(val) else UNDEFINED)
        elif op == "Block":
            self.exec_block(st, _Env(env))
        elif op == "If":
            if truthy(self.eval(st[1], env)):
                self.exec_stmt(st[2], env)
            elif st[3] is not None:
                self.exec_stmt(st[3], env)
        elif op == "While":
            while truthy(self.eval(st[1], env)):
                try:
                    self.exec_stmt(st[2], env)
                except _BreakSignal:
                    break
                except _ContinueSignal:
                    continue
        elif op == "DoWhile":
            while True:
                try:
                    self.exec_stmt(st[1], env)
                except _BreakSignal:
                    break
                except _ContinueSignal:
                    pass
                if not truthy(self.eval(st[2], env)):
                    break
        elif op == "For":
            loop_env = _Env(env)
            if st[1] is not None:
                self.exec_stmt(st[1], loop_env)
            while st[2] is None or truthy(self.eval(st[2], loop_env)):
                try:
                    self.exec_stmt(st[4], loop_env)
                except _BreakSignal:
                    break
                except _ContinueSignal:
                    pass
                if st[3] is not None:
                    self.eval(st[3], loop_env)
        elif op in ("ForOf", "ForIn"):
            target, body, it_expr = st[1], st[2], st[3]
            obj = self.eval(it_expr, env)
            if op == "ForIn":
                items = (list(obj.keys()) if isinstance(obj, dict) else
                         [str(i) for i in range(len(obj))]
                         if isinstance(obj, (list, str)) else [])
            else:
                if isinstance(obj, dict):
                    raise JSError("object is not iterable (for-of)")
                items = list(obj) if obj is not None and \
                    obj is not UNDEFINED else []
            for item in items:
                loop_env = _Env(env)
                if target[0] == "one":
                    loop_env.declare(target[1], item)
                    # plain `for (e of x)` with undeclared e assigns outer
                    env.set(target[1], item) if target[1] not in \
                        loop_env.vars else None
                else:
                    for i, n in enumerate(target[1]):
                        loop_env.declare(
                            n, item[i] if isinstance(item, list) and
                            i < len(item) else UNDEFINED)
                try:
                    self.exec_stmt(body, loop_env)
                except _BreakSignal:
                    break
                except _ContinueSignal:
                    continue
        elif op == "Return":
            raise _ReturnSignal(UNDEFINED if st[1] is None
                                else self.eval(st[1], env))
        elif op == "Break":
            raise _BreakSignal()
        elif op == "Continue":
            raise _ContinueSignal()
        elif op == "Throw":
            raise JSThrown(self.eval(st[1], env))
        elif op == "Try":
            _, block, handler, finalizer = st
            try:
                self.exec_block(block, _Env(env))
            except (JSThrown, JSError) as exc:
                if handler is not None:
                    cenv = _Env(env)
                    if handler[0]:
                        cenv.declare(handler[0], exc.value
                                     if isinstance(exc, JSThrown)
                                     else _mk_error(str(exc)))
                    self.exec_block(handler[1], cenv)
                else:
                    # no catch clause: the finally block (below) runs the
                    # finalizer, then the exception must propagate
                    raise
            finally:
                if finalizer is not None:
                    self.exec_block(finalizer, _Env(env))
        elif op == "Switch":
            _, disc_expr, cases = st
            disc = self.eval(disc_expr, env)
            sw_env = _Env(env)
            matched = False
            try:
                for test, body in cases:
                    if not matched and test is not None and \
                            js_equals_strict(disc, self.eval(test, sw_env)):
                        matched = True
                    if matched:
                        for s in body:
                            self.exec_stmt(s, sw_env)
                if not matched:  # fall back to default (with fallthrough)
                    from_default = False
                    for test, body in cases:
                        if test is None:
                            from_default = True
                        if from_default:
                            for s in body:
                                self.exec_stmt(s, sw_env)
            except _BreakSignal:
                pass
        elif op == "FuncDecl":
            env.declare(st[1], JSFunction(st[1], st[2], st[3], env, self))
        elif op == "Empty":
            pass
        else:
            raise JSError(f"unsupported statement {op}")

    # -- expressions ------------------------------------------------------
    def eval(self, e, env):
        op = e[0]
        if op == "Num" or op == "Str" or op == "Bool":
            return e[1]
        if op == "Regex":
            return JSRegExp.from_literal(e[1])
        if op == "Null":
            return None
        if op == "Undef":
            return UNDEFINED
        if op == "Name":
            return env.get(e[1])
        if op == "TmplExpr":
            return self.eval(e[1], env)
        if op == "ToStr":
            return js_to_string(self.eval(e[1], env))
        if op == "Array":
            return [self.eval(x, env) for x in e[1]]
        if op == "Object":
            out = {}
            for key, val in e[1]:
                k = key[1] if key[0] == "const" else \
                    js_to_string(self.eval(key[1], env))
                out[k] = self.eval(val, env)
            return out
        if op == "FuncExpr":
            return JSFunction(e[1], e[2], e[3], env, self)
        if op == "Seq":
            self.eval(e[1], env)
            return self.eval(e[2], env)
        if op == "Cond":
            return self.eval(e[2] if truthy(self.eval(e[1], env))
                             else e[3], env)
        if op == "Or":
            left = self.eval(e[1], env)
            return left if truthy(left) else self.eval(e[2], env)
        if op == "And":
            left = self.eval(e[1], env)
            return self.eval(e[2], env) if truthy(left) else left
        if op == "Nullish":
            left = self.eval(e[1], env)
            return self.eval(e[2], env) if left is None or \
                left is UNDEFINED else left
        if op == "Bin":
            return self._binop(e[1], e[2], e[3], env)
        if op == "Unary":
            return self._unary(e[1], e[2], env)
        if op == "Update":
            return self._update(e[1], e[2], e[3], env)
        if op == "Assign":
            return self._assign(e[1], e[2], e[3], env)
        if op == "Member":
            obj = self.eval(e[1], env)
            key = self.eval(e[2], env) if e[3] else e[2][1]
            return self._get_member(obj, key, e)
        if op == "Call":
            return self._call(e, env)
        if op == "New":
            callee = self.eval(e[1], env)
            if not callable(callee):
                raise JSError(f"{e[1]} is not a constructor")
            return callee(*[self.eval(a, env) for a in e[2]])
        raise JSError(f"unsupported expression {op}")

    def _binop(self, op, le, re_, env):
        if op == "instanceof":
            left = self.eval(le, env)
            r = self.eval(re_, env)
            if r is self.globals.vars.get("Array"):
                return isinstance(left, list)
            return isinstance(left, dict)
        a = self.eval(le, env)
        b = self.eval(re_, env)
        if op == "+":
            return js_add(a, b)
        if op == "==":
            return js_equals_loose(a, b)
        if op == "!=":
            return not js_equals_loose(a, b)
        if op == "===":
            return js_equals_strict(a, b)
        if op == "!==":
            return not js_equals_strict(a, b)
        if op in ("<", ">", "<=", ">="):
            if isinstance(a, str) and isinstance(b, str):
                x, y = a, b
            else:
                x, y = js_to_number(a), js_to_number(b)
                if _num_is_nan(x) or _num_is_nan(y):
                    return False
            return {"<": x < y, ">": x > y,
                    "<=": x <= y, ">=": x >= y}[op]
        x, y = js_to_number(a), js_to_number(b)
        if op == "-":
            return x - y
        if op == "*":
            return x * y
        if op == "/":
            if y == 0:
                return _math.nan if x == 0 else \
                    _math.copysign(_math.inf, x) * (1 if y >= 0 else -1)
            r = x / y
            return int(r) if isinstance(x, int) and isinstance(y, int) \
                and x % y == 0 else r
        if op == "%":
            return _js_mod(x, y)
        raise JSError(f"unsupported operator {op}")

    def _unary(self, op, operand, env):
        if op == "delete":
            if operand[0] == "Member":
                obj = self.eval(operand[1], env)
                key = self.eval(operand[2], env) if operand[3] \
                    else operand[2][1]
                if isinstance(obj, dict):
                    obj.pop(js_to_string(key), None)
                return True
            return True
        if op == "typeof":
            try:
                v = self.eval(operand, env)
            except JSError:
                return "undefined"
            if v is UNDEFINED:
                return "undefined"
            if v is None:
                return "object"
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, (int, float)):
                return "number"
            if isinstance(v, str):
                return "string"
            if callable(v) and not isinstance(v, dict):
                return "function"
            return "object"
        v = self.eval(operand, env)
        if op == "!":
            return not truthy(v)
        if op == "-":
            return -js_to_number(v)
        if op == "+":
            return js_to_number(v)
        if op == "~":
            return ~int(js_to_number(v))
        raise JSError(f"unsupported unary {op}")

    def _update(self, op, target, prefix, env):
        delta = 1 if op == "++" else -1
        old = js_to_number(self.eval(target, env))
        new = old + delta
        self._store(target, new, env)
        return new if prefix else old

    def _assign(self, op, target, value_expr, env):
        value = self.eval(value_expr, env)
        if op != "=":
            current = self.eval(target, env)
            binop = op[0]
            if binop == "+":
                value = js_add(current, value)
            else:
                x, y = js_to_number(current), js_to_number(value)
                value = {"-": x - y, "*": x * y,
                         "/": (x / y if y != 0 else _math.nan),
                         "%": _js_mod(x, y)}[binop]
        self._store(target, value, env)
        return value

    def _store(self, target, value, env):
        if target[0] == "Name":
            env.set(target[1], value)
        elif target[0] == "Member":
            obj = self.eval(target[1], env)
            key = self.eval(target[2], env) if target[3] else target[2][1]
            if isinstance(obj, dict):
                obj[js_to_string(key)] = value
            elif isinstance(obj, list):
                i = int(js_to_number(key))
                while len(obj) <= i:
                    obj.append(UNDEFINED)
                obj[i] = value
            else:
                raise JSError(
                    f"cannot set property {key!r} on {type(obj).__name__}")
        else:
            raise JSError("invalid assignment target")

    def _get_member(self, obj, key, node):
        if obj is None or obj is UNDEFINED:
            raise JSError(
                f"TypeError: cannot read property {key!r} of "
                f"{js_to_string(obj)}")
        if isinstance(obj, dict):
            k = js_to_string(key)
            if k in obj:
                return obj[k]
            if k == "hasOwnProperty":
                return lambda name: js_to_string(name) in obj
            return UNDEFINED
        if isinstance(obj, list):
            if isinstance(key, (int, float)) or \
                    (isinstance(key, str) and key.lstrip("-").isdigit()):
                i = int(js_to_number(key))
                return obj[i] if 0 <= i < len(obj) else UNDEFINED
            if key == "length":
                return len(obj)
            m = _array_method(obj, str(key))
            if m is not None:
                return m
            return UNDEFINED
        if isinstance(obj, str):
            if key == "length":
                return len(obj)
            if isinstance(key, (int, float)):
                i = int(key)
                return obj[i] if 0 <= i < len(obj) else UNDEFINED
            m = _string_method(obj, str(key))
            if m is not None:
                return m
            return UNDEFINED
        if isinstance(obj, (int, float)):
            if key == "toFixed":
                return lambda n=0: f"{js_to_number(obj):.{int(js_to_number(n))}f}"
            if key == "toString":
                return lambda: js_to_string(obj)
            return UNDEFINED
        if callable(obj):
            if key == "call":
                return lambda _this=None, *a: obj(*a)
            if key == "apply":
                return lambda _this=None, a=None: obj(*(a or []))
            if key == "name":
                return getattr(obj, "name", getattr(obj, "__name__", ""))
            return UNDEFINED
        # opaque host objects (e.g. the track_queries dependency
        # registry): expose public attributes/methods so JS method-call
        # syntax works on them — goja does the same for Go host values
        k = str(key)
        if not k.startswith("_"):
            attr = getattr(obj, k, None)
            if attr is not None:
                return attr
        return UNDEFINED

    def _call(self, e, env):
        callee_node = e[1]
        args = [self.eval(a, env) for a in e[2]]
        if callee_node[0] == "Member":
            obj = self.eval(callee_node[1], env)
            key = self.eval(callee_node[2], env) if callee_node[3] \
                else callee_node[2][1]
            fn = self._get_member(obj, key, callee_node)
            if not callable(fn):
                raise JSError(
                    f"TypeError: {js_to_string(key)} is not a function")
            return _invoke(fn, args)
        fn = self.eval(callee_node, env)
        if not callable(fn):
            name = callee_node[1] if callee_node[0] == "Name" else "<expr>"
            raise JSError(f"TypeError: {name} is not a function")
        return _invoke(fn, args)


def _invoke(fn, args):
    if isinstance(fn, JSFunction):
        return fn(*args)
    try:
        return fn(*args)
    except TypeError as exc:
        # host functions with fewer params than supplied args (JS permits
        # extra args) — retry trimmed, else surface the real error
        msg = str(exc)
        if "positional argument" in msg and args:
            import inspect
            try:
                n = len(inspect.signature(fn).parameters)
                return fn(*args[:n])
            except (TypeError, ValueError):
                pass
        raise JSError(f"host call failed: {exc}") from exc


def _wrap_host(v):
    """Host values pass through; UNDEFINED arguments to host functions
    become None so the shared Python builtins see their own contract."""
    if not callable(v) or isinstance(v, dict):
        return v

    def shim(*args):
        clean = tuple(None if a is UNDEFINED else a for a in args)
        return v(*clean)

    shim.name = getattr(v, "__name__", "host")
    return shim


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

def parse(code: str):
    """Parse JS source to an AST (raises JSError on syntax errors)."""
    return _Parser(_tokenize(code)).parse_program()


def run_program(code: str, host: dict | None = None) -> dict:
    """Execute a JS program with ``host`` names bound as globals and
    return {function_name: callable} for every top-level function the
    program defined (the reference convention: the engine calls
    transform_entities(entities) per batch, transform.go:300).

    Host-name precedence matches goja: the reference loads the helper
    functions AFTER the user program (transform.go:258-262 runs
    HelperJavascriptFunctions last), so a user function that collides
    with a built-in name loses everywhere — the host binding is
    re-asserted after the program runs."""
    interp = Interpreter(host)
    interp.run(parse(code))
    out = {}
    host_names = set(host or {})
    for name, val in interp.globals.vars.items():
        if isinstance(val, JSFunction) and name not in host_names:
            out[name] = val
    for k, v in (host or {}).items():  # helpers load last, like goja
        interp.globals.declare(k, _wrap_host(v))
    return out

