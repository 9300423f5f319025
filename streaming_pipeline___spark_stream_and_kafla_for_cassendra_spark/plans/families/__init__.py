"""Query families. Each module registers its builders with
``core._register`` on import; ``plans/registry.py`` imports every
module below this package.
"""
