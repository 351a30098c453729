from .registry import TABLES, load_table, register_views  # noqa: F401
from .seeds import credit_card_ownership, seed_csv_path  # noqa: F401
