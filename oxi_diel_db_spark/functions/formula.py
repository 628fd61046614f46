"""Chemical-formula functions (SURVEY.md §2.8 F4, §2.6 O1).

parse_formula reimplements the semantics the reference gets from
pymatgen's ``Composition("SiO2")`` (reference main.py:33) as pure
Catalyst expressions — regexp token split, no Python. The
electronegativity-ordered formula (O1: reference README.md:18, cations
ordered by EN) looks the elements up in a literal element-property map.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# element token: capital + optional lowercase + optional count (int/float)
_TOKEN_RE = "[A-Z][a-z]?[0-9.]*"
# depth-1 parenthesized group with optional multiplier: '(SiO4)2'
_GROUP_RE = r"\([^()]*\)[0-9.]*"


def _token_pairs(s: Column) -> Column:
    """array<struct<el,cnt>> from a paren-free token string."""
    toks = F.regexp_extract_all(s, F.lit(_TOKEN_RE), 0)
    return F.transform(
        toks,
        lambda t0: F.struct(
            F.regexp_extract(t0, "[A-Z][a-z]?", 0).alias("el"),
            F.coalesce(
                F.nullif(F.regexp_extract(t0, "[0-9.]+", 0), F.lit("")), F.lit("1")
            )
            .cast("double")
            .alias("cnt"),
        ),
    )


def formula_pairs(formula: Column | str) -> Column:
    """array<struct<el,cnt>> with parenthesized groups expanded (depth 1,
    pymatgen Composition semantics): 'Ba(AuO2)2' → [(Ba,1),(Au,2),(O,4)].

    Order is outside tokens in formula order, then group tokens in formula
    order — the DuckDB twins fold the SAME order, so left-fold double sums
    stay bit-identical cross-engine. The corpus has no nested groups
    (verified over all 1,278 reference formulas); nested input would leave
    the inner group unexpanded rather than erroring.
    """
    c = F.col(formula) if isinstance(formula, str) else formula
    outside = _token_pairs(F.regexp_replace(c, _GROUP_RE, ""))
    groups = F.regexp_extract_all(c, F.lit(_GROUP_RE), 0)
    grp_pairs = F.flatten(
        F.transform(
            groups,
            lambda g: F.transform(
                _token_pairs(F.regexp_extract(g, r"\(([^()]*)\)", 1)),
                lambda s: F.struct(
                    s["el"].alias("el"),
                    (
                        s["cnt"]
                        * F.coalesce(
                            F.nullif(
                                F.regexp_extract(g, r"\)([0-9.]*)$", 1), F.lit("")
                            ),
                            F.lit("1"),
                        ).cast("double")
                    ).alias("cnt"),
                ),
            ),
        )
    )
    return F.concat(outside, grp_pairs)


def parse_formula(formula: Column | str) -> Column:
    """'Ba(AuO2)2' → map<string,double> {Ba:1.0, Au:2.0, O:4.0}.
    Duplicate element symbols sum (pymatgen Composition semantics)."""
    pairs = formula_pairs(formula)
    empty = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<double>")
    )
    return F.aggregate(
        pairs,
        empty,
        lambda acc, x: F.map_concat(
            F.map_filter(acc, lambda k, _v: k != x["el"]),
            F.create_map(
                x["el"],
                F.coalesce(F.try_element_at(acc, x["el"]), F.lit(0.0)) + x["cnt"],
            ),
        ),
    )


def _cnt_str(c: Column) -> Column:
    """Canonical count rendering: integral doubles render bare ('2'),
    fractional round to 6 dp — identical logic in the SQL twin."""
    return F.when(c == F.floor(c), c.cast("bigint").cast("string")).otherwise(
        F.round(c, 6).cast("string")
    )


def formula_canonical(formula: Column | str) -> Column:
    """Deterministic canonical form: 'El:count' sorted by element symbol,
    joined with spaces — the hash-comparable rendering of parse_formula
    (group-expanded, duplicates summed)."""
    m = parse_formula(formula)
    rendered = F.transform(
        F.array_sort(F.map_keys(m)),
        lambda k: F.concat_ws(":", k, _cnt_str(F.try_element_at(m, k))),
    )
    return F.concat_ws(" ", rendered)


# DuckDB twins of the group expansion. {col} must be a bare column name.
_SQL_INNER_TOKS = (
    "list_transform(regexp_extract_all({src}, '[A-Z][a-z]?[0-9.]*'), "
    "t -> struct_pack("
    "el := regexp_extract(t, '[A-Z][a-z]?'), "
    "cnt := CAST(CASE WHEN regexp_extract(t, '[0-9.]+') = '' THEN '1' "
    "ELSE regexp_extract(t, '[0-9.]+') END AS DOUBLE)))"
)

_SQL_GROUP_MULT = (
    "CAST(CASE WHEN regexp_extract(g, '\\)([0-9.]*)$', 1) = '' THEN '1' "
    "ELSE regexp_extract(g, '\\)([0-9.]*)$', 1) END AS DOUBLE)"
)


def sql_formula_pairs(col: str) -> str:
    """DuckDB twin of formula_pairs(): list<struct(el,cnt)>, outside
    tokens first then expanded group tokens — same order as Spark."""
    outside = _SQL_INNER_TOKS.format(
        src=f"regexp_replace({col}, '\\([^()]*\\)[0-9.]*', '', 'g')"
    )
    inner = _SQL_INNER_TOKS.format(
        src="regexp_extract(g, '\\(([^()]*)\\)', 1)"
    )
    grp = (
        f"flatten(list_transform(regexp_extract_all({col}, '\\([^()]*\\)[0-9.]*'), "
        f"g -> list_transform({inner}, "
        f"s -> struct_pack(el := s.el, cnt := s.cnt * {_SQL_GROUP_MULT}))))"
    )
    return f"list_concat({outside}, {grp})"


def sql_formula_canonical(col: str) -> str:
    """DuckDB twin of formula_canonical()."""
    pairs = sql_formula_pairs(col)
    csum = (
        f"list_aggregate(list_transform(list_filter({pairs}, p -> p.el = e), "
        "p -> p.cnt), 'sum')"
    )
    cnt_str = (
        f"CASE WHEN ({csum}) = floor({csum}) "
        f"THEN CAST(CAST(({csum}) AS BIGINT) AS VARCHAR) "
        f"ELSE CAST(ROUND(({csum}), 6) AS VARCHAR) END"
    )
    return f"""
    array_to_string(list_transform(
        list_sort(list_distinct(list_transform({pairs}, p -> p.el))),
        e -> e || ':' || ({cnt_str})
    ), ' ')
    """


# Pauling electronegativities for every element appearing in the corpus
# (public tabulated values; O ordered last as the anion, matching the
# reference's formula convention, README.md:18).
PAULING_EN = {
    "H": 2.20, "Li": 0.98, "Be": 1.57, "B": 2.04, "C": 2.55, "N": 3.04,
    "O": 3.44, "F": 3.98, "Na": 0.93, "Mg": 1.31, "Al": 1.61, "Si": 1.90,
    "P": 2.19, "S": 2.58, "Cl": 3.16, "K": 0.82, "Ca": 1.00, "Sc": 1.36,
    "Ti": 1.54, "V": 1.63, "Cr": 1.66, "Mn": 1.55, "Fe": 1.83, "Co": 1.88,
    "Ni": 1.91, "Cu": 1.90, "Zn": 1.65, "Ga": 1.81, "Ge": 2.01, "As": 2.18,
    "Se": 2.55, "Br": 2.96, "Rb": 0.82, "Sr": 0.95, "Y": 1.22, "Zr": 1.33,
    "Nb": 1.60, "Mo": 2.16, "Tc": 1.90, "Ru": 2.20, "Rh": 2.28, "Pd": 2.20,
    "Ag": 1.93, "Cd": 1.69, "In": 1.78, "Sn": 1.96, "Sb": 2.05, "Te": 2.10,
    "I": 2.66, "Cs": 0.79, "Ba": 0.89, "La": 1.10, "Ce": 1.12, "Pr": 1.13,
    "Nd": 1.14, "Sm": 1.17, "Eu": 1.20, "Gd": 1.20, "Tb": 1.10, "Dy": 1.22,
    "Ho": 1.23, "Er": 1.24, "Tm": 1.25, "Yb": 1.10, "Lu": 1.27, "Hf": 1.30,
    "Ta": 1.50, "W": 2.36, "Re": 1.90, "Os": 2.20, "Ir": 2.20, "Pt": 2.28,
    "Au": 2.54, "Hg": 2.00, "Tl": 1.62, "Pb": 2.33, "Bi": 2.02, "Th": 1.30,
    "U": 1.38,
}


def en_ordered_formula(elements_col: Column | str) -> Column:
    """Elements sorted ascending by Pauling EN (cation order of the
    reference's formula field) rendered as a '-'-joined string.

    Implemented as a pure expression over a literal map (the EN table is
    O(100) entries — a map literal beats a join for a fixed vocabulary).
    """
    c = F.col(elements_col) if isinstance(elements_col, str) else elements_col
    kv = [x for el, en in sorted(PAULING_EN.items()) for x in (F.lit(el), F.lit(en))]
    en_map = F.create_map(*kv)
    decorated = F.transform(
        c,
        lambda e: F.concat_ws(
            "|",
            F.lpad(F.format_number(en_map[e] * 100, 0), 4, "0"),
            e,
        ),
    )
    return F.concat_ws(
        "-", F.transform(F.array_sort(decorated), lambda s: F.split(s, "\\|")[1])
    )
