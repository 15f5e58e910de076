"""Number -> Turkish-word expansion (reference P5, normalizer.py:184-400).

Pure-Python core (`py_convert_numbers_to_words`) + an Arrow UDF over
token arrays.  Semantics preserved from the reference,
including its quirks:

- with ``decimal_seperator=","`` a token's ``.`` becomes ``_`` (Python
  thousands separator) and ``,`` becomes ``.`` before ``float()`` — so
  ``"3.5"`` parses as ``35.0`` ("otuz beş"), exactly as the reference does;
- scale words cover 10^2 ("yüz") through 10^63 ("vigintilyon");
- numbers 1000..1999 read "bin ...", not "bir bin ..." (the 2000 threshold
  test at normalizer.py:357).
"""
from __future__ import annotations

from typing import List

from pyspark.sql.types import ArrayType, StringType

from ._udf import arrow_map

_SCALE = [
    " yüz", " bin", "", "", " milyon", " milyar", " trilyon", " katrilyon",
    " kentilyon", " seksilyon", " septilyon", " oktilyon", " nonilyon",
    " desilyon", " undesilyon", " dodesilyon", " tredesilyon",
    " katordesilyon", " seksdesilyon", " septendesilyon", " oktodesilyon",
    " nove mdesilyon", " vigintilyon",
]
_ONES = ["", " bir", " iki", " üç", " dört", " beş", " altı", " yedi", " sekiz", " dokuz"]
_TENS = ["", " on", " yirmi", " otuz", " kırk", " elli", " altmış", " yetmiş", " seksen", " doksan"]


def py_int_to_words(main_num: int) -> str:
    # DOCUMENTED DEVIATION: the reference's digit-length loop
    # (normalizer.py:273-370, `num //= 10` until 0) never terminates for
    # negative ints (floor division converges to -1, not 0) — it would
    # hang an executor forever on a token like "-5".  Here negatives
    # terminate as "eksi" + words(|n|); positives are byte-identical.
    if main_num < 0:
        return "eksi " + py_int_to_words(-main_num)
    text = ""
    num, length = main_num, 0
    while num != 0:
        num //= 10
        length += 1
    if main_num == 0:
        text = " sıfır"
    for i in range(length, 0, -1):
        digit = int((main_num // (10 ** (i - 1))) % 10)
        if i % 3 == 0:
            if digit == 1:
                text += _SCALE[0]
            elif digit == 0:
                text += _ONES[digit]
            else:
                text += _ONES[digit] + _SCALE[0]
        elif i % 3 == 1:
            if i > 3:
                if main_num > 1999:
                    text += _ONES[digit] + _SCALE[i - 3]
                else:
                    text += _SCALE[i - 3]
            else:
                text += _ONES[digit]
        else:
            text += _TENS[digit]
    return text[1:]


def py_num_to_words(num: float, num_dec_digits: int = 6) -> str:
    integer_part = int(num)
    decimal_part = round(num % 1, num_dec_digits)
    if decimal_part < 10**-num_dec_digits:
        return py_int_to_words(integer_part)
    str_decimal = "{:f}".format(round(num % 1, num_dec_digits))[2:]
    zeros_after_decimal = 0
    for char in str_decimal:
        if char == "0":
            zeros_after_decimal += 1
        else:
            break
    stripped = str_decimal.strip("0")
    decimal_as_int = int(stripped) if stripped else 0
    return (
        py_int_to_words(integer_part)
        + " virgül "
        + "sıfır " * zeros_after_decimal
        + py_int_to_words(decimal_as_int)
    )


def py_convert_numbers_to_words(
    tokens: List[str], num_dec_digits: int = 6, decimal_seperator: str = ","
) -> List[str]:
    out: List[str] = []
    for token in tokens:
        if any(ch.isnumeric() for ch in token):
            if decimal_seperator == ",":
                token = token.replace(".", "_").replace(",", ".")
            elif decimal_seperator == ".":
                token = token.replace(",", "_")
            else:
                raise ValueError(f"{decimal_seperator!r} is not a valid decimal seperator")
        try:
            num = float(token)
            out.extend(py_num_to_words(num, num_dec_digits).split())
        except (ValueError, OverflowError):
            # OverflowError: float('inf')-parsing tokens ("inf", "Infinity")
            # crash the reference at int(num); here they pass through
            # (documented deviation, same class as the negative-int guard)
            out.append(token)
    return out


# array<string> -> array<string> with numeric tokens expanded to words
convert_numbers_to_words = arrow_map(py_convert_numbers_to_words, ArrayType(StringType()))
