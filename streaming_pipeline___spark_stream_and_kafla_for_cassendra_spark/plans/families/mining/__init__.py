"""Mining and similarity queries: near-duplicate detection, similarity
search, graph analytics and approximate sketches.
"""
