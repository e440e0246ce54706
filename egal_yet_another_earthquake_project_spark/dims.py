"""Dimension tables.

The reference buckets provinces into fault-line regions with a hardcoded
membership-list UDF (``/root/reference/sparktoELKstream.py:56-74``) whose
closure is re-pickled into every task. Here the same mapping is plain data:
``operators/enrich.py:with_fault_line`` turns it into one column
expression, and :func:`province_region_rows` lists it as (province, region)
pairs for checks outside the engine.

Data transcribed from the reference's three membership lists (15+23+21
provinces; 'Osmaniye' appears twice in the Doğu list there — deduped here,
per FIXTURES.md §5).
"""

from __future__ import annotations

DOGU_ANADOLU = "Doğu Anadolu"
KUZEY_ANADOLU = "Kuzey Anadolu"
BATI_ANADOLU = "Batı Anadolu"

# /root/reference/sparktoELKstream.py:60 (Doğu), :63 (Kuzey), :66 (Batı)
_PROVINCES: dict[str, tuple[str, ...]] = {
    DOGU_ANADOLU: (
        "Hatay", "Osmaniye", "Ağrı", "Van", "Hakkari", "Gaziantep",
        "Kahramanmaraş", "Siirt", "Adana", "Malatya", "Adıyaman", "Elazığ",
        "Bingöl", "Şanlıurfa",
    ),
    KUZEY_ANADOLU: (
        "Tekirdağ", "İstanbul", "Çanakkale", "Kocaeli", "Sakarya", "Artvin",
        "Düzce", "Bolu", "Karabük", "Çankırı", "Kastamonu", "Çorum", "Samsun",
        "Amasya", "Tokat", "Sivas", "Giresun", "Erzincan", "Erzurum", "Muş",
        "Bitlis", "Bartın", "Gümüşhane",
    ),
    BATI_ANADOLU: (
        "Balıkesir", "İzmir", "Eskişehir", "Aydın", "Kayseri", "Kırşehir",
        "Konya", "Kütahya", "Manisa", "Muğla", "Isparta", "Denizli", "Burdur",
        "Aksaray", "Uşak", "Afyonkarahisar", "Antalya", "Afyon", "Bursa",
        "Bilecik", "Ankara",
    ),
}


def province_region_rows() -> list[tuple[str, str]]:
    """(province, fault_line) pairs, deduped, deterministic order."""
    return [
        (province, region)
        for region, provinces in _PROVINCES.items()
        for province in provinces
    ]

