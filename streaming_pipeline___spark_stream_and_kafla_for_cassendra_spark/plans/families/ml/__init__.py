"""Machine-learning queries: trained models, experiment evaluation,
training-data preparation and multimodal feature extraction.
"""
