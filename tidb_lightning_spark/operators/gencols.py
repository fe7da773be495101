"""MySQL expression -> Spark SQL translation for generated columns
(reference: expression.RewriteAstExpr usage at sql2kv.go:103-166; tested
surface = tests/generated_columns fixtures, FIXTURES.md F7).

Token-level rewrite: identifiers/strings/numbers pass through with Spark
quoting; function names are mapped where Spark's builtin differs. The
result is evaluated by Catalyst as part of the table's typed projection
(operators/transform.py) — no Python at runtime.
"""

from __future__ import annotations

from tidb_lightning_spark.schema.ddl import Tok, tokenize
from tidb_lightning_spark.sqltext import ident, lit, string

# MySQL @@block_encryption_mode analog (reference reads the target's
# global at restore start, restore.go setGlobalVariables; the files
# backend has no live target, so the Restorer sets this from
# [tidb] block-encryption-mode before translating any expressions).
# MySQL's server default:
BLOCK_ENCRYPTION_MODE = "aes-128-ecb"


def _fold_aes_key(key: bytes, nbytes: int) -> bytes:
    """MySQL's AES key derivation: XOR-fold the user key into an
    nbytes-wide zero buffer (my_aes.cc) — NOT a standard KDF. Spark's
    aes_encrypt wants the final key verbatim, so fold here."""
    buf = bytearray(nbytes)
    for i, b in enumerate(key):
        buf[i % nbytes] ^= b
    return bytes(buf)


# MySQL function -> Spark SQL function (identical names pass through: pow,
# sha1, repeat, unhex, hex, concat, from_unixtime, abs, ceil,
# floor, round, upper, lower, length, substring, coalesce, if, nullif, ...)
_SIMPLE_FN_MAP = {
    "week": "weekofyear",
    "curdate": "current_date",
    "now": "current_timestamp",
    "sysdate": "current_timestamp",
    "day": "dayofmonth",
    "truncate": "trunc",
    "ucase": "upper",
    "lcase": "lower",
}


def translate_mysql_expr(
    expr: str, block_encryption_mode: str | None = None
) -> str:
    return _xlate(
        tokenize(expr), block_encryption_mode or BLOCK_ENCRYPTION_MODE
    )


def _xlate(toks: list[Tok], block_encryption_mode: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if t.kind == "word":
            low = t.text.lower()
            is_call = nxt is not None and nxt.kind == "punct" and nxt.text == "("
            if is_call and low in ("aes_encrypt", "aes_decrypt"):
                args, i = _split_args(toks, i + 1)
                out.append(_xlate_aes(low, args, block_encryption_mode))
                continue
            if is_call and low == "json_object":
                # JSON_OBJECT(k1, v1, ...) -> to_json(map(k1, v1, ...))
                out.append("to_json(map")
                i += 2
                out.append("(")
                depth = 1
                while i < len(toks) and depth > 0:
                    tt = toks[i]
                    if tt.kind == "punct" and tt.text == "(":
                        depth += 1
                    elif tt.kind == "punct" and tt.text == ")":
                        depth -= 1
                        if depth == 0:
                            out.append(")")
                            break
                    out.append(_render(tt))
                    i += 1
                out.append(")")
                i += 1
                continue
            if is_call and low in _SIMPLE_FN_MAP:
                out.append(_SIMPLE_FN_MAP[low])
                i += 1
                continue
            if low == "div" and not is_call:
                out.append("div")
                i += 1
                continue
            out.append(t.text)
            i += 1
            continue
        out.append(_render(t))
        i += 1
    return " ".join(out)


def _split_args(toks: list[Tok], i: int) -> tuple[list[list[Tok]], int]:
    """toks[i] must be '('; returns the depth-1 comma-split argument
    token slices and the index just past the matching ')'."""
    depth = 1
    args: list[list[Tok]] = []
    cur: list[Tok] = []
    i += 1
    while i < len(toks):
        t = toks[i]
        if t.kind == "punct" and t.text == "(":
            depth += 1
            cur.append(t)
        elif t.kind == "punct" and t.text == ")":
            depth -= 1
            if depth == 0:
                if cur or args:
                    args.append(cur)
                return args, i + 1
            cur.append(t)
        elif t.kind == "punct" and t.text == "," and depth == 1:
            args.append(cur)
            cur = []
        else:
            cur.append(t)
        i += 1
    raise ValueError("unbalanced parentheses in generated-column expression")


def _xlate_aes(fn: str, args: list[list[Tok]], mode_str: str) -> str:
    """MySQL AES_ENCRYPT(v, key[, iv]) -> Spark aes_encrypt(input, key,
    mode, padding, iv). The argument POSITIONS differ (MySQL's third is
    the IV; Spark's is the mode string), the mode comes from
    @@block_encryption_mode rather than an argument, and MySQL derives
    the real key by XOR-folding (never passes it verbatim) — so a
    passthrough call is wrong on all three counts. The key must be a
    string literal (the fold happens at translate time); MySQL uses the
    first 16 bytes of the IV and PKCS7 padding."""
    import re as _re

    m = _re.fullmatch(r"aes-(128|192|256)-(ecb|cbc)", mode_str.lower())
    if not m:
        raise ValueError(
            f"unsupported block-encryption-mode {mode_str!r} "
            "(supported: aes-{{128,192,256}}-{{ecb,cbc}})"
        )
    bits, mode = int(m.group(1)), m.group(2).upper()
    if len(args) not in (2, 3):
        raise ValueError(f"{fn} takes 2 or 3 arguments, got {len(args)}")
    key_toks = args[1]
    if len(key_toks) != 1 or key_toks[0].kind != "string":
        raise ValueError(
            f"{fn} key must be a string literal: MySQL's XOR-fold key "
            "derivation is applied at translate time"
        )
    folded = _fold_aes_key(key_toks[0].text.encode(), bits // 8)
    key_sql = lit(folded)
    val = _xlate(args[0], mode_str)
    if fn == "aes_encrypt":
        # MySQL stringifies non-binary plaintext before encrypting
        val_sql = f"cast(cast(({val}) as string) as binary)"
    else:
        val_sql = f"cast(({val}) as binary)"
    if mode == "CBC":
        if len(args) != 3:
            raise ValueError(f"{fn} in CBC mode requires an IV argument")
        iv = _xlate(args[2], mode_str)
        iv_sql = f"substring(cast(({iv}) as binary), 1, 16)"
        if fn == "aes_encrypt":
            # Spark PREPENDS the IV to CBC output (iv || ciphertext);
            # MySQL returns the ciphertext alone — strip the 16 bytes
            return (
                f"substring(aes_encrypt({val_sql}, {key_sql}, 'CBC', "
                f"'PKCS', {iv_sql}), 17)"
            )
        # Spark aes_decrypt has NO iv argument: it reads the IV from the
        # first 16 bytes of the input, so prepend MySQL's explicit IV
        return (
            f"aes_decrypt(concat({iv_sql}, {val_sql}), {key_sql}, "
            f"'CBC', 'PKCS')"
        )
    return f"{fn}({val_sql}, {key_sql}, 'ECB', 'PKCS')"


def _render(t: Tok) -> str:
    if t.kind == "ident":
        return ident(t.text)
    if t.kind == "string":
        return string(t.text)
    return t.text
