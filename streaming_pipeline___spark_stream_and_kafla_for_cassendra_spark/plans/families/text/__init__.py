"""Text queries over the documents table: tokenization, quality signals
and retrieval.
"""
