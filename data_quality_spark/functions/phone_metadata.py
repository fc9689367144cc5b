"""Phone metadata: number type / geocoder / timezone / country code.

Reference: `PhoneNumberHandlerBase` wraps libphonenumber's offline metadata
(`dataquality-phone/.../PhoneNumberHandlerBase.java:193-380` —
getPhoneNumberType, getGeocoderDescriptionForNumber, getCarrierNameForNumber,
the country code, plus the timezone mapper).  The full Google
metadata is tens of MB of compiled tables; this module re-expresses the
functions over PUBLIC data subsets as broadcast literal maps (pure Spark
expressions — no UDF, no join, no shuffle):

- NANP area-code → place / IANA timezone (curated NANPA subset; unknown
  valid codes fall back to "United States/Canada");
- ITU country calling codes → region / name / representative timezone;
- NANP number-type classes derivable from the numbering plan itself
  (toll-free 8xx set, premium 900, else FIXED_LINE_OR_MOBILE — NANP
  genuinely cannot distinguish fixed from mobile, which is exactly what
  libphonenumber returns for +1).

Carrier lookup (`getCarrierNameForNumber`) is NOT derivable from NANP
numbers at all (number portability); the full-parity path goes through the
`phonenumbers` PyPI port when installed and otherwise returns null —
documented, not faked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .emailphone import is_valid_phone, phone_digits
from .literals import lit_map

# Public NANPA assignments (place, IANA tz).  Broad coverage of the
# geographic US / Canada / Caribbean plan (~230 codes); codes assigned
# since this table was curated fall back to "United States/Canada" —
# adding them is a pure data extension.  For codes whose geography spans
# two zones (850, 812, …) the zone of the principal city is used, the
# same single-zone simplification libphonenumber's offline mapper makes.
NANP_AREA_CODES: dict[int, tuple[str, str]] = {
    # --- US Northeast ---
    201: ("Jersey City, NJ", "America/New_York"),
    203: ("Bridgeport, CT", "America/New_York"),
    207: ("Portland, ME", "America/New_York"),
    212: ("New York, NY", "America/New_York"),
    215: ("Philadelphia, PA", "America/New_York"),
    267: ("Philadelphia, PA", "America/New_York"),
    315: ("Syracuse, NY", "America/New_York"),
    339: ("Boston, MA", "America/New_York"),
    347: ("New York, NY", "America/New_York"),
    351: ("Lowell, MA", "America/New_York"),
    401: ("Providence, RI", "America/New_York"),
    413: ("Springfield, MA", "America/New_York"),
    443: ("Baltimore, MD", "America/New_York"),
    484: ("Allentown, PA", "America/New_York"),
    508: ("Worcester, MA", "America/New_York"),
    516: ("Hempstead, NY", "America/New_York"),
    518: ("Albany, NY", "America/New_York"),
    551: ("Jersey City, NJ", "America/New_York"),
    570: ("Scranton, PA", "America/New_York"),
    585: ("Rochester, NY", "America/New_York"),
    603: ("Manchester, NH", "America/New_York"),
    607: ("Binghamton, NY", "America/New_York"),
    609: ("Trenton, NJ", "America/New_York"),
    610: ("Allentown, PA", "America/New_York"),
    617: ("Boston, MA", "America/New_York"),
    631: ("Brentwood, NY", "America/New_York"),
    646: ("New York, NY", "America/New_York"),
    716: ("Buffalo, NY", "America/New_York"),
    717: ("Harrisburg, PA", "America/New_York"),
    718: ("New York, NY", "America/New_York"),
    724: ("New Castle, PA", "America/New_York"),
    732: ("Toms River, NJ", "America/New_York"),
    781: ("Waltham, MA", "America/New_York"),
    802: ("Burlington, VT", "America/New_York"),
    814: ("Erie, PA", "America/New_York"),
    845: ("Poughkeepsie, NY", "America/New_York"),
    848: ("Toms River, NJ", "America/New_York"),
    856: ("Camden, NJ", "America/New_York"),
    857: ("Boston, MA", "America/New_York"),
    860: ("Hartford, CT", "America/New_York"),
    862: ("Newark, NJ", "America/New_York"),
    878: ("Pittsburgh, PA", "America/New_York"),
    908: ("Elizabeth, NJ", "America/New_York"),
    914: ("Yonkers, NY", "America/New_York"),
    917: ("New York, NY", "America/New_York"),
    973: ("Newark, NJ", "America/New_York"),
    978: ("Lowell, MA", "America/New_York"),
    202: ("Washington, DC", "America/New_York"),
    240: ("Silver Spring, MD", "America/New_York"),
    301: ("Silver Spring, MD", "America/New_York"),
    302: ("Wilmington, DE", "America/New_York"),
    410: ("Baltimore, MD", "America/New_York"),
    412: ("Pittsburgh, PA", "America/New_York"),
    571: ("Arlington, VA", "America/New_York"),
    703: ("Arlington, VA", "America/New_York"),
    # --- US Southeast ---
    205: ("Birmingham, AL", "America/Chicago"),
    228: ("Gulfport, MS", "America/Chicago"),
    229: ("Albany, GA", "America/New_York"),
    239: ("Fort Myers, FL", "America/New_York"),
    251: ("Mobile, AL", "America/Chicago"),
    252: ("Rocky Mount, NC", "America/New_York"),
    256: ("Huntsville, AL", "America/Chicago"),
    276: ("Abingdon, VA", "America/New_York"),
    304: ("Charleston, WV", "America/New_York"),
    305: ("Miami, FL", "America/New_York"),
    321: ("Orlando, FL", "America/New_York"),
    334: ("Montgomery, AL", "America/Chicago"),
    336: ("Greensboro, NC", "America/New_York"),
    352: ("Gainesville, FL", "America/New_York"),
    386: ("Daytona Beach, FL", "America/New_York"),
    404: ("Atlanta, GA", "America/New_York"),
    407: ("Orlando, FL", "America/New_York"),
    423: ("Chattanooga, TN", "America/New_York"),
    434: ("Lynchburg, VA", "America/New_York"),
    478: ("Macon, GA", "America/New_York"),
    540: ("Roanoke, VA", "America/New_York"),
    561: ("West Palm Beach, FL", "America/New_York"),
    601: ("Jackson, MS", "America/Chicago"),
    606: ("Ashland, KY", "America/New_York"),
    615: ("Nashville, TN", "America/Chicago"),
    662: ("Tupelo, MS", "America/Chicago"),
    678: ("Atlanta, GA", "America/New_York"),
    706: ("Augusta, GA", "America/New_York"),
    704: ("Charlotte, NC", "America/New_York"),
    727: ("St. Petersburg, FL", "America/New_York"),
    731: ("Jackson, TN", "America/Chicago"),
    754: ("Fort Lauderdale, FL", "America/New_York"),
    757: ("Virginia Beach, VA", "America/New_York"),
    762: ("Augusta, GA", "America/New_York"),
    770: ("Marietta, GA", "America/New_York"),
    772: ("Port St. Lucie, FL", "America/New_York"),
    786: ("Miami, FL", "America/New_York"),
    803: ("Columbia, SC", "America/New_York"),
    804: ("Richmond, VA", "America/New_York"),
    813: ("Tampa, FL", "America/New_York"),
    828: ("Asheville, NC", "America/New_York"),
    843: ("Charleston, SC", "America/New_York"),
    850: ("Tallahassee, FL", "America/New_York"),
    859: ("Lexington, KY", "America/New_York"),
    863: ("Lakeland, FL", "America/New_York"),
    864: ("Greenville, SC", "America/New_York"),
    865: ("Knoxville, TN", "America/New_York"),
    901: ("Memphis, TN", "America/Chicago"),
    904: ("Jacksonville, FL", "America/New_York"),
    910: ("Fayetteville, NC", "America/New_York"),
    912: ("Savannah, GA", "America/New_York"),
    919: ("Raleigh, NC", "America/New_York"),
    931: ("Clarksville, TN", "America/Chicago"),
    941: ("Sarasota, FL", "America/New_York"),
    954: ("Fort Lauderdale, FL", "America/New_York"),
    980: ("Charlotte, NC", "America/New_York"),
    # --- US Midwest ---
    216: ("Cleveland, OH", "America/New_York"),
    217: ("Springfield, IL", "America/Chicago"),
    218: ("Duluth, MN", "America/Chicago"),
    219: ("Gary, IN", "America/Chicago"),
    231: ("Muskegon, MI", "America/Detroit"),
    234: ("Akron, OH", "America/New_York"),
    248: ("Troy, MI", "America/Detroit"),
    260: ("Fort Wayne, IN", "America/Indiana/Indianapolis"),
    262: ("Kenosha, WI", "America/Chicago"),
    269: ("Kalamazoo, MI", "America/Detroit"),
    309: ("Peoria, IL", "America/Chicago"),
    312: ("Chicago, IL", "America/Chicago"),
    313: ("Detroit, MI", "America/Detroit"),
    314: ("St. Louis, MO", "America/Chicago"),
    316: ("Wichita, KS", "America/Chicago"),
    317: ("Indianapolis, IN", "America/Indiana/Indianapolis"),
    319: ("Cedar Rapids, IA", "America/Chicago"),
    320: ("St. Cloud, MN", "America/Chicago"),
    330: ("Akron, OH", "America/New_York"),
    402: ("Omaha, NE", "America/Chicago"),
    405: ("Oklahoma City, OK", "America/Chicago"),
    414: ("Milwaukee, WI", "America/Chicago"),
    417: ("Springfield, MO", "America/Chicago"),
    419: ("Toledo, OH", "America/New_York"),
    440: ("Cleveland, OH", "America/New_York"),
    513: ("Cincinnati, OH", "America/New_York"),
    515: ("Des Moines, IA", "America/Chicago"),
    517: ("Lansing, MI", "America/Detroit"),
    563: ("Davenport, IA", "America/Chicago"),
    567: ("Toledo, OH", "America/New_York"),
    573: ("Columbia, MO", "America/Chicago"),
    574: ("South Bend, IN", "America/Indiana/Indianapolis"),
    580: ("Lawton, OK", "America/Chicago"),
    586: ("Warren, MI", "America/Detroit"),
    605: ("Sioux Falls, SD", "America/Chicago"),
    608: ("Madison, WI", "America/Chicago"),
    612: ("Minneapolis, MN", "America/Chicago"),
    614: ("Columbus, OH", "America/New_York"),
    616: ("Grand Rapids, MI", "America/Detroit"),
    618: ("Belleville, IL", "America/Chicago"),
    620: ("Dodge City, KS", "America/Chicago"),
    630: ("Aurora, IL", "America/Chicago"),
    636: ("O'Fallon, MO", "America/Chicago"),
    641: ("Mason City, IA", "America/Chicago"),
    651: ("St. Paul, MN", "America/Chicago"),
    660: ("Sedalia, MO", "America/Chicago"),
    701: ("Fargo, ND", "America/Chicago"),
    708: ("Cicero, IL", "America/Chicago"),
    712: ("Sioux City, IA", "America/Chicago"),
    715: ("Eau Claire, WI", "America/Chicago"),
    734: ("Ann Arbor, MI", "America/Detroit"),
    740: ("Zanesville, OH", "America/New_York"),
    763: ("Brooklyn Park, MN", "America/Chicago"),
    765: ("Muncie, IN", "America/Indiana/Indianapolis"),
    773: ("Chicago, IL", "America/Chicago"),
    785: ("Topeka, KS", "America/Chicago"),
    810: ("Flint, MI", "America/Detroit"),
    812: ("Evansville, IN", "America/Chicago"),
    815: ("Rockford, IL", "America/Chicago"),
    816: ("Kansas City, MO", "America/Chicago"),
    847: ("Evanston, IL", "America/Chicago"),
    870: ("Jonesboro, AR", "America/Chicago"),
    906: ("Marquette, MI", "America/Detroit"),
    913: ("Overland Park, KS", "America/Chicago"),
    918: ("Tulsa, OK", "America/Chicago"),
    920: ("Green Bay, WI", "America/Chicago"),
    937: ("Dayton, OH", "America/New_York"),
    952: ("Bloomington, MN", "America/Chicago"),
    989: ("Saginaw, MI", "America/Detroit"),
    # --- US South Central / Mountain / West ---
    206: ("Seattle, WA", "America/Los_Angeles"),
    208: ("Boise, ID", "America/Boise"),
    209: ("Stockton, CA", "America/Los_Angeles"),
    210: ("San Antonio, TX", "America/Chicago"),
    213: ("Los Angeles, CA", "America/Los_Angeles"),
    214: ("Dallas, TX", "America/Chicago"),
    253: ("Tacoma, WA", "America/Los_Angeles"),
    254: ("Waco, TX", "America/Chicago"),
    281: ("Houston, TX", "America/Chicago"),
    303: ("Denver, CO", "America/Denver"),
    307: ("Cheyenne, WY", "America/Denver"),
    308: ("Grand Island, NE", "America/Chicago"),
    310: ("Los Angeles, CA", "America/Los_Angeles"),
    318: ("Shreveport, LA", "America/Chicago"),
    323: ("Los Angeles, CA", "America/Los_Angeles"),
    325: ("Abilene, TX", "America/Chicago"),
    337: ("Lafayette, LA", "America/Chicago"),
    360: ("Olympia, WA", "America/Los_Angeles"),
    361: ("Corpus Christi, TX", "America/Chicago"),
    385: ("Salt Lake City, UT", "America/Denver"),
    406: ("Billings, MT", "America/Denver"),
    408: ("San Jose, CA", "America/Los_Angeles"),
    409: ("Beaumont, TX", "America/Chicago"),
    415: ("San Francisco, CA", "America/Los_Angeles"),
    425: ("Bellevue, WA", "America/Los_Angeles"),
    432: ("Midland, TX", "America/Chicago"),
    435: ("St. George, UT", "America/Denver"),
    469: ("Dallas, TX", "America/Chicago"),
    479: ("Fort Smith, AR", "America/Chicago"),
    480: ("Scottsdale, AZ", "America/Phoenix"),
    501: ("Little Rock, AR", "America/Chicago"),
    502: ("Louisville, KY", "America/Kentucky/Louisville"),
    503: ("Portland, OR", "America/Los_Angeles"),
    504: ("New Orleans, LA", "America/Chicago"),
    505: ("Albuquerque, NM", "America/Denver"),
    509: ("Spokane, WA", "America/Los_Angeles"),
    510: ("Oakland, CA", "America/Los_Angeles"),
    512: ("Austin, TX", "America/Chicago"),
    520: ("Tucson, AZ", "America/Phoenix"),
    530: ("Redding, CA", "America/Los_Angeles"),
    541: ("Eugene, OR", "America/Los_Angeles"),
    559: ("Fresno, CA", "America/Los_Angeles"),
    562: ("Long Beach, CA", "America/Los_Angeles"),
    575: ("Las Cruces, NM", "America/Denver"),
    602: ("Phoenix, AZ", "America/Phoenix"),
    619: ("San Diego, CA", "America/Los_Angeles"),
    623: ("Glendale, AZ", "America/Phoenix"),
    626: ("Pasadena, CA", "America/Los_Angeles"),
    628: ("San Francisco, CA", "America/Los_Angeles"),
    650: ("San Mateo, CA", "America/Los_Angeles"),
    657: ("Anaheim, CA", "America/Los_Angeles"),
    661: ("Bakersfield, CA", "America/Los_Angeles"),
    682: ("Fort Worth, TX", "America/Chicago"),
    702: ("Las Vegas, NV", "America/Los_Angeles"),
    707: ("Santa Rosa, CA", "America/Los_Angeles"),
    713: ("Houston, TX", "America/Chicago"),
    714: ("Anaheim, CA", "America/Los_Angeles"),
    719: ("Colorado Springs, CO", "America/Denver"),
    720: ("Denver, CO", "America/Denver"),
    737: ("Austin, TX", "America/Chicago"),
    747: ("Los Angeles, CA", "America/Los_Angeles"),
    760: ("Oceanside, CA", "America/Los_Angeles"),
    775: ("Reno, NV", "America/Los_Angeles"),
    801: ("Salt Lake City, UT", "America/Denver"),
    805: ("Oxnard, CA", "America/Los_Angeles"),
    806: ("Lubbock, TX", "America/Chicago"),
    808: ("Hawaii", "Pacific/Honolulu"),
    817: ("Fort Worth, TX", "America/Chicago"),
    818: ("Burbank, CA", "America/Los_Angeles"),
    830: ("New Braunfels, TX", "America/Chicago"),
    831: ("Salinas, CA", "America/Los_Angeles"),
    832: ("Houston, TX", "America/Chicago"),
    858: ("San Diego, CA", "America/Los_Angeles"),
    903: ("Tyler, TX", "America/Chicago"),
    907: ("Alaska", "America/Anchorage"),
    909: ("San Bernardino, CA", "America/Los_Angeles"),
    915: ("El Paso, TX", "America/Denver"),
    916: ("Sacramento, CA", "America/Los_Angeles"),
    925: ("Concord, CA", "America/Los_Angeles"),
    928: ("Flagstaff, AZ", "America/Phoenix"),
    936: ("Conroe, TX", "America/Chicago"),
    940: ("Wichita Falls, TX", "America/Chicago"),
    949: ("Irvine, CA", "America/Los_Angeles"),
    951: ("Riverside, CA", "America/Los_Angeles"),
    956: ("Laredo, TX", "America/Chicago"),
    970: ("Fort Collins, CO", "America/Denver"),
    971: ("Portland, OR", "America/Los_Angeles"),
    972: ("Dallas, TX", "America/Chicago"),
    979: ("College Station, TX", "America/Chicago"),
    985: ("Houma, LA", "America/Chicago"),
    # --- Canada ---
    204: ("Winnipeg, MB", "America/Winnipeg"),
    226: ("London, ON", "America/Toronto"),
    236: ("Vancouver, BC", "America/Vancouver"),
    250: ("Victoria, BC", "America/Vancouver"),
    289: ("Hamilton, ON", "America/Toronto"),
    306: ("Regina, SK", "America/Regina"),
    343: ("Ottawa, ON", "America/Toronto"),
    403: ("Calgary, AB", "America/Edmonton"),
    416: ("Toronto, ON", "America/Toronto"),
    418: ("Quebec City, QC", "America/Toronto"),
    431: ("Winnipeg, MB", "America/Winnipeg"),
    437: ("Toronto, ON", "America/Toronto"),
    438: ("Montreal, QC", "America/Toronto"),
    450: ("Laval, QC", "America/Toronto"),
    506: ("Moncton, NB", "America/Moncton"),
    514: ("Montreal, QC", "America/Toronto"),
    519: ("London, ON", "America/Toronto"),
    548: ("London, ON", "America/Toronto"),
    579: ("Laval, QC", "America/Toronto"),
    581: ("Quebec City, QC", "America/Toronto"),
    587: ("Calgary, AB", "America/Edmonton"),
    604: ("Vancouver, BC", "America/Vancouver"),
    613: ("Ottawa, ON", "America/Toronto"),
    639: ("Regina, SK", "America/Regina"),
    647: ("Toronto, ON", "America/Toronto"),
    705: ("Sudbury, ON", "America/Toronto"),
    709: ("St. John's, NL", "America/St_Johns"),
    778: ("Vancouver, BC", "America/Vancouver"),
    780: ("Edmonton, AB", "America/Edmonton"),
    782: ("Nova Scotia", "America/Halifax"),
    807: ("Thunder Bay, ON", "America/Toronto"),
    819: ("Gatineau, QC", "America/Toronto"),
    825: ("Calgary, AB", "America/Edmonton"),
    867: ("Whitehorse, YT", "America/Whitehorse"),
    873: ("Sherbrooke, QC", "America/Toronto"),
    902: ("Nova Scotia", "America/Halifax"),
    905: ("Mississauga, ON", "America/Toronto"),
    # --- Caribbean / Pacific NANP ---
    242: ("Bahamas", "America/Nassau"),
    246: ("Barbados", "America/Barbados"),
    264: ("Anguilla", "America/Anguilla"),
    268: ("Antigua and Barbuda", "America/Antigua"),
    284: ("British Virgin Islands", "America/Tortola"),
    340: ("U.S. Virgin Islands", "America/St_Thomas"),
    345: ("Cayman Islands", "America/Cayman"),
    441: ("Bermuda", "Atlantic/Bermuda"),
    473: ("Grenada", "America/Grenada"),
    649: ("Turks and Caicos Islands", "America/Grand_Turk"),
    658: ("Jamaica", "America/Jamaica"),
    664: ("Montserrat", "America/Montserrat"),
    670: ("Northern Mariana Islands", "Pacific/Saipan"),
    671: ("Guam", "Pacific/Guam"),
    684: ("American Samoa", "Pacific/Pago_Pago"),
    721: ("Sint Maarten", "America/Lower_Princes"),
    758: ("Saint Lucia", "America/St_Lucia"),
    767: ("Dominica", "America/Dominica"),
    784: ("Saint Vincent and the Grenadines", "America/St_Vincent"),
    787: ("Puerto Rico", "America/Puerto_Rico"),
    809: ("Dominican Republic", "America/Santo_Domingo"),
    829: ("Dominican Republic", "America/Santo_Domingo"),
    849: ("Dominican Republic", "America/Santo_Domingo"),
    868: ("Trinidad and Tobago", "America/Port_of_Spain"),
    869: ("Saint Kitts and Nevis", "America/St_Kitts"),
    876: ("Jamaica", "America/Jamaica"),
    939: ("Puerto Rico", "America/Puerto_Rico"),
}

# NANP service classes (the numbering plan itself defines these)
NANP_TOLL_FREE = (800, 888, 877, 866, 855, 844, 833)
NANP_PREMIUM = (900,)

# ITU country calling codes (public): code → (region, name, representative tz)
COUNTRY_CODES: dict[int, tuple[str, str, str]] = {
    1: ("US", "United States/Canada", "America/New_York"),
    7: ("RU", "Russia/Kazakhstan", "Europe/Moscow"),
    20: ("EG", "Egypt", "Africa/Cairo"),
    27: ("ZA", "South Africa", "Africa/Johannesburg"),
    30: ("GR", "Greece", "Europe/Athens"),
    31: ("NL", "Netherlands", "Europe/Amsterdam"),
    32: ("BE", "Belgium", "Europe/Brussels"),
    33: ("FR", "France", "Europe/Paris"),
    34: ("ES", "Spain", "Europe/Madrid"),
    39: ("IT", "Italy", "Europe/Rome"),
    40: ("RO", "Romania", "Europe/Bucharest"),
    41: ("CH", "Switzerland", "Europe/Zurich"),
    43: ("AT", "Austria", "Europe/Vienna"),
    44: ("GB", "United Kingdom", "Europe/London"),
    45: ("DK", "Denmark", "Europe/Copenhagen"),
    46: ("SE", "Sweden", "Europe/Stockholm"),
    47: ("NO", "Norway", "Europe/Oslo"),
    48: ("PL", "Poland", "Europe/Warsaw"),
    49: ("DE", "Germany", "Europe/Berlin"),
    52: ("MX", "Mexico", "America/Mexico_City"),
    55: ("BR", "Brazil", "America/Sao_Paulo"),
    61: ("AU", "Australia", "Australia/Sydney"),
    62: ("ID", "Indonesia", "Asia/Jakarta"),
    63: ("PH", "Philippines", "Asia/Manila"),
    64: ("NZ", "New Zealand", "Pacific/Auckland"),
    65: ("SG", "Singapore", "Asia/Singapore"),
    66: ("TH", "Thailand", "Asia/Bangkok"),
    81: ("JP", "Japan", "Asia/Tokyo"),
    82: ("KR", "South Korea", "Asia/Seoul"),
    84: ("VN", "Vietnam", "Asia/Ho_Chi_Minh"),
    86: ("CN", "China", "Asia/Shanghai"),
    90: ("TR", "Turkey", "Europe/Istanbul"),
    91: ("IN", "India", "Asia/Kolkata"),
    92: ("PK", "Pakistan", "Asia/Karachi"),
    234: ("NG", "Nigeria", "Africa/Lagos"),
    254: ("KE", "Kenya", "Africa/Nairobi"),
    351: ("PT", "Portugal", "Europe/Lisbon"),
    353: ("IE", "Ireland", "Europe/Dublin"),
    358: ("FI", "Finland", "Europe/Helsinki"),
    420: ("CZ", "Czechia", "Europe/Prague"),
    972: ("IL", "Israel", "Asia/Jerusalem"),
}

def _nanp_area_code(c: Column) -> Column:
    """Area code of a valid NANP number, else null."""
    d = phone_digits(c)
    ten = F.when((F.length(d) == 11) & d.startswith("1"), F.substring(d, 2, 10)).otherwise(d)
    return F.when(is_valid_phone(c), F.substring(ten, 1, 3).cast("int"))


def phone_country_code(c: Column) -> Column:
    """`getCountryCodeForPhoneNumber` analog: +CC longest-prefix over the
    known table; bare 10/11-digit NANP numbers → 1.  Null when unknown."""
    d = phone_digits(c)
    has_plus = F.trim(c).startswith("+")
    c1 = F.substring(d, 1, 1).cast("int")
    c2 = F.substring(d, 1, 2).cast("int")
    c3 = F.substring(d, 1, 3).cast("int")
    one_digit = [code for code in COUNTRY_CODES if code < 10]
    two_digit = [code for code in COUNTRY_CODES if 10 <= code < 100]
    three_digit = [code for code in COUNTRY_CODES if code >= 100]
    return (
        F.when(has_plus & c1.isin(one_digit), c1)
        .when(has_plus & c2.isin(two_digit), c2)
        .when(has_plus & c3.isin(three_digit), c3)
        .when(is_valid_phone(c), F.lit(1))
        .otherwise(F.lit(None).cast("int"))
    )


def phone_number_type(c: Column) -> Column:
    """`getPhoneNumberType` analog for NANP: TOLL_FREE / PREMIUM_RATE /
    FIXED_LINE_OR_MOBILE (the plan cannot split fixed vs mobile — the same
    verdict libphonenumber gives for +1); non-NANP valid internationals →
    UNKNOWN (type tables not embedded); invalid → null."""
    area = _nanp_area_code(c)
    return (
        F.when(area.isin(list(NANP_TOLL_FREE)), "TOLL_FREE")
        .when(area.isin(list(NANP_PREMIUM)), "PREMIUM_RATE")
        .when(area.isNotNull(), "FIXED_LINE_OR_MOBILE")
        .when(phone_country_code(c).isNotNull(), "UNKNOWN")
        .otherwise(F.lit(None).cast("string"))
    )


def phone_geocoder_description(c: Column) -> Column:
    """`getGeocoderDescriptionForNumber` analog: NANP area-code place, or
    the country name for international numbers; valid-but-unmapped NANP
    codes → 'United States/Canada' (libphonenumber's own coarse
    fallback behavior)."""
    area = _nanp_area_code(c)
    cc = phone_country_code(c)
    places = lit_map({k: v[0] for k, v in NANP_AREA_CODES.items()}, "int", "string")
    countries = lit_map({k: v[1] for k, v in COUNTRY_CODES.items()}, "int", "string")
    return (
        F.when(area.isNotNull(), F.coalesce(places[area], F.lit("United States/Canada")))
        .when(cc.isNotNull(), countries[cc])
        .otherwise(F.lit(None).cast("string"))
    )


def phone_timezones(c: Column) -> Column:
    """Timezone-mapper analog: IANA zone for the NANP area code, or the
    country's representative zone; unmapped-but-valid → null-safe coarse
    fallback 'America/New_York' for NANP (the mapper's plan default)."""
    area = _nanp_area_code(c)
    cc = phone_country_code(c)
    zones = lit_map({k: v[1] for k, v in NANP_AREA_CODES.items()}, "int", "string")
    country_zones = lit_map({k: v[2] for k, v in COUNTRY_CODES.items()}, "int", "string")
    return (
        F.when(area.isNotNull(), F.coalesce(zones[area], F.lit("America/New_York")))
        .when(cc.isNotNull(), country_zones[cc])
        .otherwise(F.lit(None).cast("string"))
    )


def phone_carrier_name(c: Column) -> Column:
    """`getCarrierNameForNumber` analog.  NANP numbers carry NO carrier
    information (portability), and the mobile-prefix tables for other
    plans are libphonenumber metadata — so this resolves through the
    `phonenumbers` PyPI port when installed and returns null otherwise
    (documented limitation, not a fake).  A number without a country
    code parses as a US number."""
    try:
        from collections.abc import Iterator

        import pandas as pd
        import phonenumbers  # noqa: F401
        from phonenumbers import carrier  # noqa: F401
        from pyspark.sql.types import StringType

        @F.pandas_udf(StringType())
        def _carrier(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            import phonenumbers as pn
            from phonenumbers import carrier as pc

            def one(v):
                if v is None:
                    return None
                try:
                    return pc.name_for_number(pn.parse(str(v), "US"), "en") or None
                except pn.NumberParseException:
                    return None

            for s in batches:
                yield s.map(one)

        return _carrier(c)
    except ImportError:
        return F.lit(None).cast("string")
