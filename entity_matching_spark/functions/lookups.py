"""Constant lookup tables used by normalization, validation and scoring.

Each table replicates a reference constant set verbatim (citations into
/root/reference). These are tiny: in Spark they are used either inside pandas
UDFs (closure capture) or as plan constants through ``const``, the one way a
Python constant enters a plan — a single SQL literal per table, which Catalyst
folds into codegen.
"""

from __future__ import annotations

import math

# ISO 3166-1 alpha-2 codes — util/CountryCodeValidator.java:11-33 (249 codes)
ISO_COUNTRY_CODES = frozenset(
    """AD AE AF AG AI AL AM AO AQ AR AS AT AU AW AX AZ BA BB BD BE BF BG BH BI
    BJ BL BM BN BO BQ BR BS BT BV BW BY BZ CA CC CD CF CG CH CI CK CL CM CN
    CO CR CU CV CW CX CY CZ DE DJ DK DM DO DZ EC EE EG EH ER ES ET FI FJ FK
    FM FO FR GA GB GD GE GF GG GH GI GL GM GN GP GQ GR GS GT GU GW GY HK HM
    HN HR HT HU ID IE IL IM IN IO IQ IR IS IT JE JM JO JP KE KG KH KI KM KN
    KP KR KW KY KZ LA LB LC LI LK LR LS LT LU LV LY MA MC MD ME MF MG MH MK
    ML MM MN MO MP MQ MR MS MT MU MV MW MX MY MZ NA NC NE NF NG NI NL NO NP
    NR NU NZ OM PA PE PF PG PH PK PL PM PN PR PS PT PW PY QA RE RO RS RU RW
    SA SB SC SD SE SG SH SI SJ SK SL SM SN SO SR SS ST SV SX SY SZ TC TD TF
    TG TH TJ TK TL TM TN TO TR TT TV TW TZ UA UG UM US UY UZ VA VC VE VG VI
    VN VU WF WS YE YT ZA ZM ZW""".split()
)

# Country name -> ISO code — util/CountryCodeValidator.java:35-81 (43 entries)
COUNTRY_NAME_TO_CODE = {
    "UNITED STATES": "US",
    "USA": "US",
    "AMERICA": "US",
    "UNITED STATES OF AMERICA": "US",
    "UNITED KINGDOM": "GB",
    "UK": "GB",
    "ENGLAND": "GB",
    "GREAT BRITAIN": "GB",
    "CANADA": "CA",
    "GERMANY": "DE",
    "FRANCE": "FR",
    "JAPAN": "JP",
    "CHINA": "CN",
    "PEOPLE'S REPUBLIC OF CHINA": "CN",
    "AUSTRALIA": "AU",
    "NETHERLANDS": "NL",
    "HOLLAND": "NL",
    "SWITZERLAND": "CH",
    "SINGAPORE": "SG",
    "HONG KONG": "HK",
    "IRELAND": "IE",
    "LUXEMBOURG": "LU",
    "CAYMAN ISLANDS": "KY",
    "BERMUDA": "BM",
    "BRITISH VIRGIN ISLANDS": "VG",
    "ISLE OF MAN": "IM",
    "JERSEY": "JE",
    "GUERNSEY": "GG",
    "SOUTH KOREA": "KR",
    "KOREA": "KR",
    "INDIA": "IN",
    "BRAZIL": "BR",
    "MEXICO": "MX",
    "SPAIN": "ES",
    "ITALY": "IT",
    "SWEDEN": "SE",
    "NORWAY": "NO",
    "DENMARK": "DK",
    "FINLAND": "FI",
    "BELGIUM": "BE",
    "AUSTRIA": "AT",
    "PORTUGAL": "PT",
}

# Corporate forms removed by name normalization — engine/NameNormalizer.java:20-36
CORPORATE_FORMS = [
    # US forms
    "inc", "incorporated", "corp", "corporation", "llc", "llp", "lp",
    "ltd", "limited", "co", "company", "holding", "holdings",
    "enterprises", "ent", "industries", "ind",
    # International forms
    "plc", "sa", "ag", "gmbh", "bv", "nv", "spa", "srl", "sarl",
    "ab", "as", "oy", "pty", "pte", "bhd", "sdn", "tbk", "pt",
    "kk", "kg", "kft", "sp zoo", "doo", "ad", "ead", "ooo", "zao",
    "ltda", "cv", "sas", "scs", "snc", "kgaa", "gmbh co kg",
    # Investment specific
    "fund", "funds", "trust", "reit", "sicav", "sicaf", "fcp",
    "partners", "partnership", "investments", "capital", "ventures",
    "equity", "credit", "asset", "management", "advisors", "advisers",
]

# Abbreviation expansions — engine/NameNormalizer.java:46-68 (23 entries).
# Expansion outputs never re-match another abbreviation key as a whole word,
# so application order does not affect results; we use source order.
ABBREVIATIONS = {
    "intl": "international",
    "natl": "national",
    "mgmt": "management",
    "invt": "investment",
    "svcs": "services",
    "svc": "service",
    "tech": "technology",
    "assoc": "associates",
    "bros": "brothers",
    "dept": "department",
    "div": "division",
    "govt": "government",
    "univ": "university",
    "mfg": "manufacturing",
    "ins": "insurance",
    "fin": "financial",
    "grp": "group",
    "sys": "systems",
    "amer": "american",
    "euro": "european",
    "asia": "asian",
    "pac": "pacific",
    "atl": "atlantic",
}

# Fund manager aliases — engine/NameNormalizer.java:72-99 (23 entries, source order)
FUND_MANAGER_ALIASES = {
    "gsam": "goldman sachs asset management",
    "gs": "goldman sachs",
    "jpm": "jp morgan",
    "jpmc": "jp morgan chase",
    "ms": "morgan stanley",
    "msim": "morgan stanley investment management",
    "baml": "bank of america merrill lynch",
    "bofa": "bank of america",
    "ubs": "ubs asset management",
    "cs": "credit suisse",
    "db": "deutsche bank",
    "dws": "deutsche wealth management",
    "ssga": "state street global advisors",
    "bny": "bank of new york",
    "bnym": "bank of new york mellon",
    "citi": "citigroup",
    "hsbc": "hsbc global",
    "bnp": "bnp paribas",
    "axa": "axa investment",
    "ab": "alliancebernstein",
    "pimco": "pacific investment management company",
    "blackrock": "blackrock inc",
    "vanguard": "vanguard group",
}

# Service-provider email domains — util/ServiceProviderDetector.java:11-46
SERVICE_PROVIDER_DOMAINS = frozenset([
    # Generic email providers
    "gmail.com", "yahoo.com", "hotmail.com", "outlook.com", "aol.com",
    "protonmail.com", "mail.com", "yandex.com", "icloud.com", "msn.com",
    "live.com", "me.com", "qq.com", "163.com", "126.com", "yeah.net",
    # Law firms
    "shearman.com", "davispolk.com", "sullcrom.com", "weil.com",
    "skadden.com", "lw.com", "kirkland.com", "paulweiss.com",
    "cooley.com", "wilmerhale.com", "mayerbrown.com", "whitecase.com",
    "cliffordchance.com", "linklaters.com", "allenovery.com",
    "freshfields.com", "hoganlovells.com", "nortonrosefulbright.com",
    "dechert.com", "sidley.com", "morganlewis.com", "jonesday.com",
    "gibsondunn.com", "cravath.com", "wachtell.com", "simpson.com",
    # Fund administrators
    "citco.com", "sscinc.com", "maples.com", "intertrust.com",
    "alterDomus.com", "apexgroup.com", "aztecgroup.com", "tmf-group.com",
    "vistra.com", "tridenttrust.com", "iqeq.com", "jcftrust.com",
    "harneys.com", "ogier.com", "walkers.global", "mourant.com",
    # Custodians
    "bnymellon.com", "statestreet.com", "northerntrust.com",
    "jpmorgan.com/custody", "citi.com/custody", "hsbc.com/custody",
    "standardchartered.com/custody", "db.com/custody",
    # Accounting firms
    "pwc.com", "deloitte.com", "ey.com", "kpmg.com",
    "bdo.com", "grantthornton.com", "rsm.com", "mazars.com",
    "bakertilly.com", "crowe.com", "mossadams.com", "marcumllp.com",
    # Generic service provider indicators
    "lawfirm.com", "legal.com", "attorneys.com", "lawyers.com",
    "admin.com", "administration.com", "fundadmin.com",
    "custodian.com", "trustee.com", "fiduciary.com",
])

# Keywords flagging service-provider domains — ServiceProviderDetector.java:49-53
SERVICE_PROVIDER_KEYWORDS = frozenset([
    "law", "legal", "attorney", "counsel", "llp", "solicitor",
    "admin", "administrator", "custody", "custodian",
    "trustee", "fiduciary", "accounting", "audit", "tax",
])

# Law-firm domain regex patterns — ServiceProviderDetector.java:88-104
LAW_FIRM_DOMAIN_PATTERNS = [
    r".*law\.com$",
    r".*legal\.com$",
    r".*llp\.com$",
    r".*attorneys\.com$",
    r".*solicitors\..*",
    r".*barristers\..*",
]

# Corporate family: email domain -> entity-name substrings —
# engine/EmailDomainMatcher.java:16-50 (15 domains)
CORPORATE_DOMAINS = {
    "blackrock.com": ["blackrock", "blackrock inc", "blackrock asset management", "blackrock fund"],
    "vanguard.com": ["vanguard", "vanguard group", "vanguard investments"],
    "fidelity.com": ["fidelity", "fidelity investments", "fidelity management", "fmr"],
    "goldmansachs.com": ["goldman sachs", "gs", "gsam", "goldman sachs asset management"],
    "jpmorgan.com": ["jp morgan", "jpmorgan", "jpmc", "jp morgan asset management", "jpm"],
    "morganstanley.com": ["morgan stanley", "ms", "morgan stanley investment management", "msim"],
    "ubs.com": ["ubs", "ubs asset management", "ubs global", "ubs ag"],
    "credit-suisse.com": ["credit suisse", "cs", "credit suisse asset management"],
    "db.com": ["deutsche bank", "db", "deutsche asset management", "dws"],
    "barclays.com": ["barclays", "barclays capital", "barclays investment"],
    "citi.com": ["citigroup", "citi", "citibank", "citigroup global"],
    "hsbc.com": ["hsbc", "hsbc global", "hsbc asset management"],
    "statestreet.com": ["state street", "state street global", "ssga"],
    "bnymellon.com": ["bny mellon", "bank of new york mellon", "bnym"],
    "pimco.com": ["pimco", "pacific investment management"],
}

# TLD suffix -> expected country — engine/EmailDomainMatcher.java:137-156
TLD_COUNTRY = [
    (".uk", "GB"), (".ca", "CA"), (".de", "DE"), (".fr", "FR"), (".au", "AU"),
    (".jp", "JP"), (".cn", "CN"), (".sg", "SG"), (".hk", "HK"), (".ch", "CH"),
    (".nl", "NL"), (".ie", "IE"), (".lu", "LU"), (".com", "US"),
]

# Financial keywords — engine/EmailDomainMatcher.java:159-172
FINANCIAL_KEYWORDS = [
    "bank", "capital", "asset", "invest", "fund", "wealth",
    "securities", "financial", "equity", "credit", "trading",
]

# Entity-type detection sets — detection/EntityTypeDetector.java:16-60
FUND_MANAGER_INDICATORS = [
    "asset management", "capital management", "investment management",
    "advisors", "advisers", "partners", "holdings", "investments", "ventures",
    "equity", "credit", "securities", "wealth", "advisory", "capital",
    "funds", "portfolio", "strategies",
]

STANDALONE_INDICATORS = [
    "corporation", "bank", "insurance", "manufacturing", "retail",
    "technology", "pharmaceutical", "energy", "utilities", "telecom",
    "mining", "construction", "logistics", "shipping", "airline",
]

INSTITUTIONAL_INVESTOR_PATTERNS = [
    "pension", "endowment", "retirement", "foundation", "trust",
    "university", "college", "charity", "sovereign wealth",
    "superannuation", "provident", "social security", "teachers",
    "employees", "workers", "municipal", "state of", "county of",
]

KNOWN_FUND_MANAGER_DOMAINS = frozenset([
    "blackrock.com", "vanguard.com", "fidelity.com", "pimco.com",
    "goldmansachs.com", "jpmorgan.com", "morganstanley.com", "ubs.com",
    "credit-suisse.com", "barclays.com", "statestreet.com",
    "alliancebernstein.com", "bnpparibas.com", "axa-im.com", "schroders.com",
    "wellington.com", "troweprice.com", "franklintempleton.com",
    "invesco.com", "dimensional.com",
])


def const(value) -> "Column":  # noqa: F821
    """A Python constant as ONE ``F.expr`` round trip: the one way a lookup
    table, pass map, boundary array or hyperplane enters a plan. Takes
    ``str``, ``bool``, ``int``, finite ``float`` (``repr`` + ``D``:
    bit-exact), ``list``/``tuple`` (array) and ``dict`` (map), nested, with
    ``F.lit``'s value and Spark type (``F.create_map``'s for a dict); NaN,
    inf and other types raise. Per-element ``F.lit`` costs ~2 py4j round
    trips per element per plan.
    """
    from pyspark.sql import functions as F

    def sql(v) -> str:
        if isinstance(v, str):  # ``$`` escaped: the SQL parser substitutes ``${var}``
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int) and -(2**63) <= v < 2**63:
            return str(v)
        if isinstance(v, float) and math.isfinite(v):
            return float.__repr__(v) + "D"
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(map(sql, v)) + ")"
        if isinstance(v, dict):
            return "map(" + ",".join(sql(x) for kv in v.items() for x in kv) + ")"
        raise ValueError(f"const: no Spark SQL literal for {v!r}")

    return F.expr(sql(value))


def contains_any_expr(col, needles):
    """``col`` contains any of ``needles``: one ``const`` array + exists()
    instead of an N-deep ``col.contains(a) | ...`` Or-tree, with identical
    semantics (exists() over a foldable array stays in whole-stage codegen).
    """
    from pyspark.sql import functions as F

    return F.exists(const(sorted(needles)), lambda n: col.contains(n))
