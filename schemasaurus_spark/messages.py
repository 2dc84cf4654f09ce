"""Default error-message catalog.

Semantics parity with the reference catalog (``/root/reference/src/messages.js:4-36``):
same constraint ids, same printf-style ``%d``/``%s`` interpolation of the
constraint argument.  Because every constraint argument is a compile-time
literal in the DSL, interpolation is folded at compile time (the analog of the
reference's precompiled ``interpolate`` templates,
``/root/reference/src/interpolate.js:5-14``) — the message lands in the plan as
a string literal, never computed per row.

A per-suite / per-constraint override map plays the role of the reference's
``[messages]`` selector (``/root/reference/src/v4validator.js:57-63``), and a
``gettext`` hook may wrap every catalog lookup
(``/root/reference/src/v4validator.js:15-17``).
"""

from __future__ import annotations

import datetime
import decimal
import logging
import numbers

_log = logging.getLogger("schemasaurus_spark")

DEFAULT_MESSAGES: dict[str, str] = {
    "string": "shall be a string",
    "null": "shall be null",
    "minLength": "shall have length at least %d",
    "maxLength": "shall have length no more than %d",
    "pattern": "shall match pattern %s",
    "integer": "shall be an integer",
    "multipleOf": "shall be multiple of %d",
    "number": "shall be a number",
    "minimum": "shall be >= %d",
    "minimum.exclusive": "shall be > %d",
    "maximum": "shall be <= %d",
    "maximum.exclusive": "shall be < %d",
    "boolean": "shall be boolean",
    "object": "shall be object",
    "additionalProperties": "shall not have additional properties",
    "minProperties": "shall have at least %d properties",
    "maxProperties": "shall have no more than %d properties",
    "array": "shall be array",
    "additionalItems": "shall not have additional items",
    "minItems": "shall have at least %d items",
    "maxItems": "shall have no more %d items",
    "uniqueItems": "shall have unique items",
    "enum": "shall be one of values %s",
    "required": "is required",
    "dependency": "does not meet additional requirements for %s",
    "not": "does not meet 'not' requirement",
    "oneOf": "does not meet exactly one requirement",
    "oneOf.zero": "does not meet any requirement",
    "allOf": "does not meet all requirements",
    "anyOf": "does not meet any requirement",
    "custom": "is not valid",
    # nested-descent single-code convention (an Items/TupleItems schema used
    # as an ELEMENT constraint — no reference counterpart; the reference
    # bubbles per-inner-element codes, which at element level would not
    # identify their outer element)
    "items": "shall have valid items",
    # element-level union type check emits ONE `type` violation (the
    # column-level error splice has one code per tried type instead)
    "type": "shall be one of types %s",
    # Engine-side aggregate checks (no reference counterpart; SURVEY.md §2.5).
    "unique.doc_id": "shall be unique across the table",
    "ref.source": "shall reference an existing dimension row",
    "stats.null_rate": "null rate shall be <= %s",
    "stats.mean_bound": "column mean shall satisfy %s",
    "stats.value_bound": "column values shall satisfy %s",
    "drift.psi": "PSI vs baseline shall be <= %s",
    "drift.ks": "KS statistic vs baseline shall be <= %s",
}


class UnknownMessageError(KeyError):
    """Analog of the reference's throwUnknownMessage
    (``/root/reference/src/v4validator.js:32-34``)."""


def render_message(
    code: str,
    arg: object = None,
    overrides: dict[str, str] | None = None,
    gettext=None,
) -> str:
    """Resolve + interpolate a message at compile time.

    Lookup order matches the reference ``error()``
    (``/root/reference/src/v4validator.js:40-52``): per-node override map
    first (run through gettext), then the default catalog, then the raw arg
    as a last-resort message; no message at all is a hard error.
    """
    gettext = gettext or (lambda s: s)
    msg = None
    if overrides and code in overrides:
        msg = gettext(overrides[code])
    elif code in DEFAULT_MESSAGES:
        # the reference builds its default catalog as messages(gettext) —
        # translation covers defaults too (v4validator.js:18-20)
        msg = gettext(DEFAULT_MESSAGES[code])
    elif code.startswith("format.") or code.startswith("custom."):
        # format/custom codes carry their message as the arg
        # (v4validator.js:207-213, 310-322).
        msg = arg if isinstance(arg, str) else DEFAULT_MESSAGES["custom"]
    elif arg is not None:
        msg = str(arg)
    if msg is None:
        raise UnknownMessageError(
            f"There is no message registered for error '{code}'"
        )
    if "%" in msg and arg is not None:
        try:
            if "%d" in msg:
                msg = msg.replace("%d", str(arg))
            if "%s" in msg:
                msg = msg.replace("%s", format_arg(arg))
        except Exception:
            # keep the template uninterpolated rather than fail the compile
            _log.warning("message %r: could not interpolate arg %r",
                         code, arg, exc_info=True)
    return msg


def format_arg(arg: object) -> str:
    """A constraint argument as text: a list as JSON (dates, timestamps,
    intervals and Decimals as their ``str``, numpy integers as numbers),
    anything else as ``str``."""
    if isinstance(arg, (list, tuple)):
        import json

        return json.dumps(list(arg), default=_json_scalar)
    return str(arg)


def _json_scalar(v: object):
    if isinstance(v, (datetime.date, datetime.time, datetime.timedelta,
                      decimal.Decimal)):
        return str(v)
    if isinstance(v, numbers.Integral):
        return int(v)
    raise TypeError(f"{type(v).__name__} is not JSON serializable")
